package perfbench

import java.io.File

import org.apache.spark.sql.functions.{col, size}

import graft.ext.Dedup
import graft.util.CacheScope

/** `corpus_dedup`: one full near-dup pass per op, closed loop, one
  * client — `Dedup.pipeline`, then its clusters and `canonical(docs)`
  * written as parquet. The corpus plants clusters of near-duplicates
  * (one-word edits of a base document, pairwise Jaccard ≥ 0.75 on word
  * 3-shingles against the 0.6 threshold) among unrelated documents drawn
  * from a large vocabulary and decoys that share half a base document. The LSH front runs distributed while the pair
  * graph stays far below the 4M-edge bound of the driver-local
  * connected-components route, so both routes run in every op. */
object CorpusDedup {
  val Docs = 800
  val Clusters = 40
  val MinCluster = 2
  val MaxCluster = 5
  val Decoys = 80
  val WordsPerDoc = 50
  val Vocab = 100000
  val CcLocalMax = 4000000L

  /** The generated corpus and its answer key: the planted clusters, and
    * the ids `canonical` keeps (every unclustered doc plus the smallest
    * id of each cluster). */
  final case class Corpus(docs: Seq[(Long, String)], clusters: Set[Set[Long]], canonical: Set[Long])

  def generate(ctx: Ctx): Corpus = {
    val r = ctx.rng(2)
    val vocab = Gen.vocabulary(r, Vocab)
    def doc(): Array[String] = Array.fill(WordsPerDoc)(vocab(r.nextInt(Vocab)))
    val ids = Gen.permutation(r, Docs).map(_.toLong + 1000L)
    var next = 0
    val docs = Seq.newBuilder[(Long, String)]
    val clusters = Set.newBuilder[Set[Long]]
    val bases = (0 until Clusters).map { _ =>
      val base = doc()
      val m = MinCluster + r.nextInt(MaxCluster - MinCluster + 1)
      // member 0 is the base; each other member edits one distinct
      // position, so any two members differ in at most two words
      val positions = Gen.permutation(r, WordsPerDoc)
      val members = (0 until m).map { v =>
        val words = base.clone()
        if (v > 0) words(positions(v)) = vocab(r.nextInt(Vocab))
        val id = ids(next); next += 1
        docs += id -> words.mkString(" ")
        id
      }
      clusters += members.toSet
      base
    }
    val planted = clusters.result()
    // decoys share half of a base document (Jaccard about 0.3): LSH
    // candidates that exact verification must reject
    (0 until Decoys).foreach { _ =>
      val words = doc()
      val half = WordsPerDoc / 2
      val from = if (r.nextBoolean()) 0 else WordsPerDoc - half
      System.arraycopy(bases(r.nextInt(Clusters)), from, words, from, half)
      docs += ids(next) -> words.mkString(" ")
      next += 1
    }
    (next until Docs).foreach(i => docs += ids(i) -> doc().mkString(" "))
    val clustered = planted.flatten
    Corpus(docs.result(), planted, ids.toSet.diff(clustered) ++ planted.map(_.min))
  }

  def write(ctx: Ctx, c: Corpus, dir: String): Unit = {
    import ctx.spark.implicits._
    c.docs.toDF("doc_id", "text").repartition(ctx.cores)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  def check(ctx: Ctx, out: String, c: Corpus): Unit = {
    import ctx.spark.implicits._
    val got = ctx.spark.read.parquet(s"$out/clusters")
      .select(col("id").cast("long"), col("cluster_id").cast("long")).as[(Long, Long)].collect()
    val comps = got.groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    require(comps == c.clusters,
      s"${comps.size} components, expected the ${c.clusters.size} planted clusters exactly")
    val kept = ctx.spark.read.parquet(s"$out/canonical").select(col("doc_id").cast("long"))
      .as[Long].collect()
    require(kept.length == c.canonical.size && kept.toSet == c.canonical,
      s"canonical kept ${kept.length} docs, expected ${c.canonical.size}")
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = ctx.dir("corpus")
    val (corpus, genS) = ctx.timedValue {
      val c = generate(ctx)
      write(ctx, c, dir)
      c
    }
    val inputMb = new File(s"$dir/documents.parquet").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum / 1048576.0
    def docs = graft.io.Tables(spark, dir, "documents")

    def pass(out: String): Map[String, Double] = {
      val p = Dedup.pipeline(docs, "doc_id", "text")
      p.clusters.write.mode("overwrite").parquet(s"$out/clusters")
      val canonS = ctx.timed {
        ctx.tracer.spanOf("dedup.canonical") {
          p.canonical(docs, "doc_id").write.mode("overwrite").parquet(s"$out/canonical")
        }
      }
      val cached = ctx.cachedMb()
      p.close()
      Map("canonical_s" -> canonS, "cached_mb" -> cached)
    }

    val warmS = ctx.timed {
      val out = ctx.dir("warm")
      pass(out)
      check(ctx, out, corpus)
    }
    val edges = corpus.clusters.toSeq.map(m => m.size * (m.size - 1) / 2).sum
    ctx.log(f"corpus ${corpus.docs.size} docs, ${corpus.clusters.size} clusters, ${inputMb}%.2f MB; " +
      f"gen ${genS}%.2f s, warm-up ${warmS}%.2f s")

    val ops = ctx.closedLoop(_ => "dedup") { (i, _) => pass(ctx.work.resolve(s"out/$i").toString) } {
      (i, _) => check(ctx, ctx.work.resolve(s"out/$i").toString, corpus)
    }
    val ok = ops.filter(_.ok)

    val layer = scala.collection.mutable.Map.empty[String, Double]
    layer("dedup.canonical_s") = Stats.median(ops.filter(o => o.ok && o.traced).flatMap(_.extra.get("canonical_s")))
    if (ctx.trace) {
      val n = docs.count()
      val (rows, bands) = Dedup.lshGeometry(n)
      val perms = rows * bands
      layer("io.scan_s") = ctx.layerProbe(docs.write.format("noop").mode("overwrite").save())
      layer("functions.signature_s") = ctx.layerProbe {
        docs.select(Dedup.minHashSignature(Dedup.shingleHashSet(col("text"), 3), perms).as("sig"))
          .write.format("noop").mode("overwrite").save()
      }
      val scope = new CacheScope
      var pairs: org.apache.spark.sql.DataFrame = null
      layer("dedup.pairs_s") = ctx.layerProbe {
        scope.close()
        pairs = scope.cache(Dedup.nearDupPairs(docs, "doc_id", "text", scope = scope))
      }
      layer("dedup.cc_s") = ctx.layerProbe {
        Dedup.connectedComponents(pairs, "id_a", "id_b").write.format("noop").mode("overwrite").save()
      }
      val sh = docs.select(col("doc_id"), Dedup.shingleHashSet(col("text"), 3).as("ws"))
        .where(size(col("ws")) > 0)
      val sigs = sh.select(col("doc_id"), Dedup.minHashSignature(col("ws"), perms).as("sig"))
      val candidates = Dedup.candidatePairs(Dedup.lshBands(sigs, "doc_id", "sig", bands, rows),
        "doc_id", salts = 4).count().toDouble
      val verified = pairs.count().toDouble
      scope.close()
      layer("dedup.candidates") = candidates
      layer("dedup.verified_pairs") = verified
      layer("dedup.verify_yield") = if (candidates > 0) verified / candidates else 0.0
    }

    Outcome(
      setupS = ctx.sessionS + genS + warmS,
      attempted = ops.size,
      failed = ops.count(!_.ok),
      mixKinds = Seq("dedup"),
      ops = ops,
      opsPerS = ctx.opsPerS(ops),
      inputMbPerS = if (ok.isEmpty) 0.0 else inputMb * ok.size / ok.map(_.wallS).sum,
      layer = layer.toMap,
      regime = Map("docs" -> Docs, "planted_clusters" -> Clusters, "decoys" -> Decoys, "words_per_doc" -> WordsPerDoc,
        "vocabulary" -> Vocab, "input_mb" -> inputMb, "pair_edges" -> edges,
        "routes" -> (s"LSH front distributed; connected components driver-local " +
          s"($edges edges <= graft.cc.local.max $CcLocalMax)")))
  }
}
