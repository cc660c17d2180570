package perfbench

import extractous.pipeline.{Decontam, Dedup, Sampling, TextStats}
import extractous.spark._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** `curate`: the training-data chain over a seeded extracted-text table,
  * forced to `noop`: normalize → fused quality gate → exact dedup → MinHash
  * near-dup removal → decontamination → train/val/test split. The table
  * plants exact copies, one-word-edited copies (Jaccard ≥ 0.9), junk that
  * fails the gate, and docs quoting a benchmark passage.
  */
final class Curate(ctx: Ctx) extends Workload {
  private val spark: SparkSession = ctx.spark
  import spark.implicits._
  private val n: Long = if (ctx.args.tiny) 10L * Gen.Block else 20L * Gen.Block
  private val tablePath = ctx.dir("curate/docs")
  private val benchPath = ctx.dir("curate/bench")
  private var textBytes = 0L
  private var sample: Array[String] = Array.empty

  def docsPerPass: Long = n
  def bytesPerPass: Long = textBytes

  def generate(): Unit = {
    val seed = ctx.seed
    spark.range(0, n, 1, 8).as[Long].map(id => (id, Gen.curateText(seed, id))).toDF("id", "text")
      .write.mode("overwrite").parquet(tablePath)
    (0 until Gen.BenchPassages).map(j => Gen.benchText(seed, j)).toDF("text")
      .coalesce(1).write.mode("overwrite").parquet(benchPath)
    textBytes = spark.read.parquet(tablePath).agg(sum(octet_length(col("text")))).first().getLong(0)
  }

  /** The chain's stages, each a function of the one before. */
  private final class Chain(raw: DataFrame, bench: DataFrame) {
    val norm: DataFrame = raw.select(col("id"), normalize.normalize_text(col("text")).getField("clean").as("clean"))
    // every report column rides to the sink, so the fused projection is computed in full
    val gated: DataFrame = norm
      .select(col("id") +: col("clean") +: TextStats.fusedQualityReport(col("clean")).map { case (k, c) => c.as(k) }: _*)
      .where(col("gopher_pass") === 1)
    val deduped: DataFrame = gated.join(Dedup.byHash(gated, "clean", "id").select(col("keep_id").as("id")), Seq("id"), "left_semi")
    val pairs: DataFrame = Dedup.minhashNearDups(deduped.select("id", "clean"), "id", "clean", threshold = 0.8)
    val unique: DataFrame = deduped.join(pairs.select(col("id_b").as("id")), Seq("id"), "left_anti")
    val flags: DataFrame = Decontam.flag(unique.select("id", "clean"), bench.select(col("text").as("clean")), "clean", "id")
    val clean: DataFrame = unique.join(flags.where(col("contaminated") === 0).select("id"), Seq("id"), "left_semi")
    val split: DataFrame = Sampling.split(clean, "clean")
  }

  private def chain(): Chain = new Chain(spark.read.parquet(tablePath), spark.read.parquet(benchPath))

  private def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def pass(): Unit = force(chain().split)

  def loadSample(): Unit = sample = spark.read.parquet(tablePath).orderBy("id").select("text").as[String].collect()

  /** The chain's per-document kernels, as one caller runs them on one text. */
  private def kernels(text: String): Unit = {
    val clean = NormalizeKernel.compute(UTF8String.fromString(text)).getUTF8String(0)
    LangIdModel.predict(clean)
    GopherKernel.compute(clean, 50)
    C4Kernel.compute(clean)
    EntropyKernel.compute(clean)
    MinHashSig.compute(ShingleKernel.compute(clean, 3), 64)
    NgramKeys.compute(clean, 8)
    FingerprintHash.compute(clean)
  }

  private def kernelNs(text: String): Double = {
    val t0 = System.nanoTime()
    kernels(text)
    (System.nanoTime() - t0).toDouble
  }

  def latencyRound(): Array[Double] = sample.map(kernelNs(_) / 1e3)

  /** The kernel chain stands in for `extract` in `exec.kernel_share`. */
  def layers(rounds: Int): Seq[DocLayers] = {
    val ns = (1 to rounds).map(_ => sample.map(kernelNs)).transpose
    ns.map(x => DocLayers("curate", Map("extract" -> x.toSeq), Map("extract" -> 0.0)))
  }

  def verify(alter: Boolean): Checked = {
    val c = chain()
    val cached = Seq(c.gated, c.deduped, c.unique, c.flags).map(_.persist())
    val ids = (0L until n)
    def roleIds(r: String) = ids.filter(Gen.role(_) == r).toSet
    // the smoke test's altered truth: doc 0 expected to fail the gate
    val junk = roleIds("junk") ++ (if (alter) Set(0L) else Set.empty[Long])
    val exact = roleIds("exact")
    val near = roleIds("near")
    val contam = roleIds("contam")
    val bad = scala.collection.mutable.TreeSet.empty[Long]
    def diff(got: Set[Long], want: Set[Long]): Unit = { bad ++= got diff want; bad ++= want diff got }

    val gated = c.gated.select("id").as[Long].collect().toSet
    diff(gated, ids.toSet -- junk)
    val deduped = c.deduped.select("id").as[Long].collect().toSet
    diff(deduped, ids.toSet -- junk -- exact)
    // MinHash: every planted (source, copy) pair found, no other pair
    val pairs = c.pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val planted = near.map(id => (Gen.sourceOf(id), id))
    (planted diff pairs).foreach(p => bad += p._2)
    (pairs diff planted).foreach(p => bad += p._2)
    val flagged = c.flags.where(col("contaminated") === 1).select("id").as[Long].collect().toSet
    diff(flagged, contam)
    val split = c.split.select("id", "split").as[(Long, String)].collect()
    val want = ids.filter(id => Gen.role(id) == "base").map { id =>
      val t = Gen.curateText(ctx.seed, id)
      id -> Gen.expectedSplit(t)
    }.toMap
    diff(split.map(_._1).toSet, want.keySet)
    split.foreach { case (id, s) => if (want.get(id).exists(_ != s)) bad += id }
    cached.foreach(_.unpersist(blocking = true))
    Checked(n, bad.size.toLong, bad.headOption.map(id => s"curate doc id $id"))
  }

  def traceMetrics(exec: ExecListener, passSpans: Seq[(Double, Double)]): Map[String, Double] = {
    // each stage forced alone on its cached input (median of three), then
    // its output is cached as the next stage's input
    val c = chain()
    val stages = Seq("normalize" -> c.norm, "gate" -> c.gated, "dedup_exact" -> c.deduped,
      "minhash" -> c.unique, "decontam" -> c.clean, "split" -> c.split)
    val raw = spark.read.parquet(tablePath).persist()
    force(raw)
    val cached = scala.collection.mutable.ArrayBuffer[DataFrame](raw)
    val out = stages.flatMap { case (op, df) =>
      val runs = (1 to 3).map { _ =>
        val l = new ExecListener
        org.apache.spark.perfbenchbridge.BusDrain(spark.sparkContext)
        spark.sparkContext.addSparkListener(l)
        val t0 = System.nanoTime()
        force(df)
        val s = (System.nanoTime() - t0) / 1e9
        org.apache.spark.perfbenchbridge.BusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(l)
        (s, l.snapshot()._2.map(_.shuffleWriteB).sum / 1e6)
      }
      cached += df.persist()
      force(df)
      Seq(s"pipeline.$op.s" -> Stats.median(runs.map(_._1)), s"pipeline.$op.shuffle_mb" -> Stats.median(runs.map(_._2)))
    }
    cached.foreach(_.unpersist(blocking = true))
    out.toMap
  }
}
