package perfbench

import java.io.{BufferedWriter, File, FileWriter, OutputStream, PrintStream}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** `mr_jobs`: the paper's canonical job, submitted through the engine's
  * CLI (`graft.Main.main`) in a closed loop with one client. Submissions
  * alternate between `--query wordcount` (the Column path: ops.TextOps →
  * io.KvText.write) and `--query custom` (WordMapper/WordReducer run by
  * api.CustomJob), both writing `r` = cores `out_<j>` files. It touches
  * no ext, bounded-local or streaming code: the control workload. */
object MrJobs {
  val Words = 250000
  val Vocab = 30000
  val WordsPerLine = 12
  val ZipfS = 1.1

  /** Writes the corpus as `files` text files; returns the exact word
    * counts (the answer key). */
  def writeCorpus(ctx: Ctx, dir: String, files: Int): Map[String, Long] = {
    val r = ctx.rng(1)
    val vocab = Gen.vocabulary(r, Vocab)
    val zipf = new Zipf(Vocab, ZipfS)
    val counts = new Array[Long](Vocab)
    val writers = (0 until files).map(f =>
      new BufferedWriter(new FileWriter(new File(dir, f"part-$f%03d.txt")), 1 << 16))
    var w = 0
    var line = 0
    while (w < Words) {
      val out = writers(line % files)
      var k = 0
      while (k < WordsPerLine && w < Words) {
        val id = zipf.sample(r)
        counts(id) += 1
        if (k > 0) out.write(' ')
        out.write(vocab(id))
        k += 1; w += 1
      }
      out.write('\n')
      line += 1
    }
    writers.foreach(_.close())
    vocab.indices.filter(counts(_) > 0).map(i => vocab(i) -> counts(i)).toMap
  }

  private val quiet = new PrintStream(OutputStream.nullOutputStream())

  def submit(kind: String, in: String, out: String, r: Int): Unit = {
    val common = Array("--input", in, "--output", out, "--r", r.toString,
      "--key", "key", "--value", "value")
    val extra = kind match {
      case "wordcount" => Array("--query", "wordcount")
      case "custom" => Array("--query", "custom",
        "--mapper-class", classOf[WordMapper].getName,
        "--reducer-class", classOf[WordReducer].getName)
    }
    Console.withOut(quiet)(graft.Main.main(common ++ extra))
  }

  /** All `r` out_<j> files present, and their key:value lines equal the
    * answer key exactly. */
  def check(out: String, r: Int, key: Map[String, Long]): Unit = {
    val got = scala.collection.mutable.HashMap.empty[String, Long]
    (0 until r).foreach { j =>
      val f = Paths.get(out, s"out_$j")
      require(Files.exists(f), s"missing output file out_$j")
      Files.readAllLines(f).asScala.foreach { l =>
        val c = l.lastIndexOf(':')
        require(c > 0, s"malformed line '$l'")
        require(got.put(l.substring(0, c), l.substring(c + 1).toLong).isEmpty,
          s"key ${l.substring(0, c)} written twice")
      }
    }
    require(got.size == key.size, s"${got.size} keys, expected ${key.size}")
    key.foreach { case (w, n) => require(got.get(w).contains(n), s"count of '$w' ${got.get(w)} != $n") }
  }

  def run(ctx: Ctx): Outcome = {
    val r = ctx.cores
    val input = ctx.dir("corpus")
    val (key, genS) = ctx.timedValue(writeCorpus(ctx, input, ctx.cores))
    val inputMb = new File(input).listFiles().map(_.length).sum / 1048576.0
    var n = 0
    def outDir(): String = { n += 1; ctx.work.resolve(s"out/$n").toString }
    def deleteTree(p: String): Unit = if (Files.exists(Paths.get(p))) {
      val files = Files.walk(Paths.get(p))
      try files.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally files.close()
    }
    // warm-up: the first submission of each kind runs ~2.5x slower cold
    val warmS = ctx.timed {
      Seq("wordcount", "custom").foreach { k =>
        val o = outDir()
        ctx.log(f"warm-up $k ${ctx.timed(submit(k, input, o, r))}%.2f s")
        check(o, r, key)
        deleteTree(o)
      }
    }
    ctx.log(f"corpus ${inputMb}%.1f MB, ${key.size} distinct words; gen ${genS}%.2f s, warm-up ${warmS}%.2f s")

    val outs = scala.collection.mutable.Map.empty[Int, String]
    val ops = ctx.closedLoop(i => if (i % 2 == 0) "wordcount" else "custom") { (i, kind) =>
      val o = outDir()
      outs(i) = o
      submit(kind, input, o, r)
      Map.empty
    } { (i, _) =>
      try check(outs(i), r, key) finally deleteTree(outs(i))
    }
    val ok = ops.filter(_.ok)
    Outcome(
      setupS = ctx.sessionS + genS + warmS,
      attempted = ops.size,
      failed = ops.count(!_.ok),
      mixKinds = Seq("wordcount", "custom"),
      ops = ops,
      opsPerS = ctx.opsPerS(ops),
      inputMbPerS = if (ok.isEmpty) 0.0 else inputMb * ok.size / ok.map(_.wallS).sum,
      layer = Map("io.scan_s" -> ctx.layerProbe {
        graft.io.Tables.text(ctx.spark, input).write.format("noop").mode("overwrite").save()
      }),
      regime = Map("input_mb" -> inputMb, "words" -> Words, "vocabulary" -> Vocab,
        "zipf_s" -> ZipfS, "input_files" -> ctx.cores, "reducers" -> r,
        "routes" -> "no bounded-local route on this path"))
  }
}
