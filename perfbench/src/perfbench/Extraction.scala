package perfbench

import extractous.core.Extract
import extractous.gen.CorpusGen
import extractous.jobs.ExtractJob
import extractous.sniff.MimeSniffer
import extractous.spark.{ExtractDocExpr, functions => xf}
import extractous.table.SnapshotTable
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import java.nio.file.{Files, Paths}

/** One generated document as a row: the program's input columns plus the
  * truth the check compares with (written to a separate table).
  */
final case class GenRow(idx: Long, url: String, warc_ts: java.sql.Timestamp, html: Array[Byte],
    warc_day: String, family: String, exp_text: String, exp_status: Int, exp_type: String)

object GenRow {
  def of(i: Long, d: GenDoc): GenRow =
    GenRow(i, d.url, CorpusGen.tsOf(d.id), d.payload, d.day, d.family, d.expText, d.expStatus, d.expType)
}

/** Shared by the two extraction workloads: seeded generation into an input
  * store plus a truth table, the single-caller `Extract(bytes, cfg)` probe
  * over a seeded sample, and the output check against the truth.
  */
abstract class ExtractionWorkload(ctx: Ctx, name: String, n: Long) extends Workload {
  protected val spark: SparkSession = ctx.spark
  import spark.implicits._
  protected val cfg = CorpusGen.flagshipConfig
  protected val input: String = ctx.dir(s"$name/input")
  protected val expected: String = ctx.dir(s"$name/expected")
  private var payloadBytes = 0L
  protected var textBytes = 0L
  private var sample: Array[(String, String, Array[Byte])] = Array.empty

  /** Generated rows: (index, document) for every index in [0, n). */
  protected def rows(seed: Long): Dataset[GenRow]
  /** Writes the program's input columns of the generated rows. */
  protected def writeInput(rows: DataFrame): Unit

  def docsPerPass: Long = n
  def bytesPerPass: Long = payloadBytes

  def generate(): Unit = {
    val rows = this.rows(ctx.seed).toDF().persist(StorageLevel.MEMORY_AND_DISK)
    writeInput(rows)
    // the truth keeps a 64-bit hash and the length of each expected text
    rows.select(col("url"), col("idx"), col("family"), xxhash64(col("exp_text")).as("exp_hash"),
        octet_length(col("exp_text")).as("exp_len"), col("exp_status"), col("exp_type"))
      .write.mode("overwrite").parquet(expected)
    val sums = rows.agg(sum(length(col("html"))), sum(octet_length(col("exp_text")))).first()
    payloadBytes = sums.getLong(0)
    textBytes = sums.getLong(1)
    rows.unpersist(blocking = true)
  }

  /** The whole corpus, in index order: a p99 over every document, not over a draw. */
  def loadSample(): Unit =
    sample = readInput().select("url", "html").join(spark.read.parquet(expected).select("url", "family", "idx"), "url")
      .orderBy("idx").select("url", "family", "html").as[(String, String, Array[Byte])].collect()

  protected def readInput(): DataFrame = spark.read.parquet(input)

  def latencyRound(): Array[Double] = sample.map { case (_, _, payload) =>
    val t0 = System.nanoTime()
    Extract(payload, cfg)
    (System.nanoTime() - t0) / 1e3
  }

  def layers(rounds: Int): Seq[DocLayers] = {
    val spans = ctx.spans
    val layer = Seq("sniff", "extract", "convert")
    val ns = Array.ofDim[Double](sample.length, 3, rounds)
    val bytes = Array.ofDim[Double](sample.length, 3)
    (0 until rounds).foreach { r =>
      sample.indices.foreach { i =>
        val (url, family, payload) = sample(i)
        val t = new Array[Double](4)
        val a = new Array[Long](4)
        a(0) = Alloc.now(); t(0) = spans.nowUs()
        MimeSniffer.sniff(payload)
        t(1) = spans.nowUs(); a(1) = Alloc.now()
        val res = Extract(payload, cfg)
        t(2) = spans.nowUs(); a(2) = Alloc.now()
        ExtractDocExpr.toInternalRow(res)
        t(3) = spans.nowUs(); a(3) = Alloc.now()
        (0 until 3).foreach { l =>
          ns(i)(l)(r) = (t(l + 1) - t(l)) * 1e3
          bytes(i)(l) = (a(l + 1) - a(l)).toDouble
        }
        if (r == rounds - 1 && spans.enabled) {
          val d = spans.open()
          (0 until 3).foreach(l => spans.add(d, layer(l), t(l), t(l + 1)))
          spans.close(d, 0, "doc", t(0), Map("url" -> url, "family" -> family, "bytes" -> payload.length))
        }
      }
    }
    sample.indices.map { i =>
      DocLayers(sample(i)._2, layer.indices.map(l => layer(l) -> ns(i)(l).toSeq).toMap,
        layer.indices.map(l => layer(l) -> bytes(i)(l)).toMap)
    }
  }

  /** Compares (text hash and length, status, content_type) per url with the truth; a url
    * missing on either side, or present twice in the output, is a failure.
    */
  protected def check(out: DataFrame, alter: Boolean): (Long, Option[String]) = {
    val exp0 = spark.read.parquet(expected)
    val exp = if (!alter) exp0 else exp0.withColumn("exp_hash",
      when(col("idx") === 0, col("exp_hash") + 1).otherwise(col("exp_hash")))
    val o = out.select(col("url").as("o_url"), xxhash64(col("text")).as("hash"),
      octet_length(col("text")).as("len"), col("status"), col("content_type"))
    val bad = o.join(exp, o("o_url") === exp("url"), "full_outer")
      .where(col("o_url").isNull || col("url").isNull || !(col("hash") <=> col("exp_hash")) ||
        !(col("len") <=> col("exp_len")) || !(col("status") <=> col("exp_status")) ||
        !(col("content_type") <=> col("exp_type")))
      .select(coalesce(col("url"), col("o_url")).as("u"))
      .union(o.groupBy("o_url").count().where(col("count") > 1).select(col("o_url").as("u")))
      .distinct().persist()
    val nBad = bad.count()
    val first = if (nBad == 0) None else Some(bad.orderBy("u").first().getString(0))
    bad.unpersist()
    (nBad, first)
  }
}

/** `crawl_job`: the production job, `ExtractJob.run`, over a Common-Crawl
  * shaped `warc_day`-partitioned corpus: scan, `extract_doc`, partitioned
  * parquet write, lineage/status aggregates and one snapshot commit per
  * 10-day group (3 per run). Each pass runs the job into a fresh table.
  */
final class CrawlJob(ctx: Ctx) extends ExtractionWorkload(ctx, "crawl_job", if (ctx.args.tiny) 120 else 3000) {
  private val tables = ctx.dir("crawl_job/tables")
  private var runNo = 0
  private var lastTable: String = ""
  private val summaries = scala.collection.mutable.ArrayBuffer.empty[ExtractJob.JobSummary]
  private var shortfall = 0L
  private var firstShort: Option[String] = None

  /** One task per day, so each day is one file without a shuffle. */
  override protected def rows(seed: Long): Dataset[GenRow] = {
    import spark.implicits._
    val days = (0L until docsPerPass).groupBy(i => Gen.crawlDay(seed, i)).values.map(_.toArray).toSeq
    spark.createDataset(spark.sparkContext.parallelize(days, days.size)
      .flatMap(ids => ids.iterator.map(i => GenRow.of(i, Gen.crawlDoc(seed, i)))))
  }

  protected def writeInput(rows: DataFrame): Unit =
    rows.select("url", "warc_ts", "html", "warc_day").write.mode("overwrite").partitionBy("warc_day").parquet(input)

  def pass(): Unit = {
    runNo += 1
    lastTable = s"$tables/run-$runNo"
    summaries += ExtractJob.run(spark, input, lastTable)
  }

  private lazy val days: Set[String] = (0L until docsPerPass).map(i => Gen.crawlDay(ctx.seed, i)).toSet

  /** Checks each pass's table before it is deleted: one snapshot per 10-day
    * group, every day committed, every visible data file present. A pass
    * that fails counts all its pages as failed documents.
    */
  override def afterPass(): Unit = {
    val s = summaries.last
    val table = new SnapshotTable(lastTable)
    val snapshots = table.chain().size
    val missing = table.allFiles().count(f => !Files.isRegularFile(Paths.get(f)))
    val problem =
      if (s.docs != docsPerPass) Some(s"${s.docs} of $docsPerPass docs committed")
      else if (snapshots != (days.size + 9) / 10 || s.snapshots.size != snapshots)
        Some(s"$snapshots snapshots in the chain, ${(days.size + 9) / 10} expected, ${s.snapshots.size} reported")
      else if (table.committedDays != days) Some(s"${table.committedDays.size} of ${days.size} days committed")
      else if (missing > 0) Some(s"$missing data files missing")
      else None
    problem.foreach { p =>
      shortfall += docsPerPass
      if (firstShort.isEmpty) firstShort = Some(s"run-$runNo: $p")
    }
    // keep only the newest table: the check reads it back
    Option(Paths.get(tables).toFile.listFiles()).getOrElse(Array.empty)
      .filter(_.getName != s"run-$runNo").foreach(deleteTree)
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private var readS = 0.0

  def verify(alter: Boolean): Checked = {
    val t0 = System.nanoTime()
    val out = new SnapshotTable(lastTable).read(spark)
    out.write.format("noop").mode("overwrite").save()
    readS = (System.nanoTime() - t0) / 1e9
    val (nBad, first) = check(out, alter)
    Checked(docsPerPass, math.min(docsPerPass, nBad + shortfall), first.orElse(firstShort))
  }

  override def kernelStage(wroteOutput: Boolean): Boolean = wroteOutput

  def traceMetrics(exec: ExecListener, passSpans: Seq[(Double, Double)]): Map[String, Double] = {
    val (jobs, tasks) = exec.snapshot()
    val outB = tasks.groupBy(_.jobId).map { case (j, ts) => j -> ts.map(_.outputB).sum }
    val sp = ctx.spans
    val perPass = passSpans.map { case (s, e) =>
      val js = jobs.filter(j => j.endMs >= 0 && sp.epochMsToUs(j.startMs) >= s - 1e3 && sp.epochMsToUs(j.startMs) <= e)
        .map(j => (j, math.max(s, sp.epochMsToUs(j.startMs)), math.min(e, sp.epochMsToUs(j.endMs))))
      // union of the job intervals inside the run span
      var covered = 0.0
      var reach = s
      js.sortBy(_._2).foreach { case (_, a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
      val writes = js.filter { case (j, _, _) => outB.getOrElse(j.id, 0L) > 0 }
      val firstWrite = if (writes.isEmpty) Double.MaxValue else writes.map(_._2).min
      val lineage = js.filter { case (j, a, _) => outB.getOrElse(j.id, 0L) == 0 && a >= firstWrite }
      Seq((e - s - covered) / 1e6, writes.map(w => w._3 - w._2).sum / 1e6,
        lineage.map(l => l._3 - l._2).sum / 1e6, writes.map(w => outB(w._1.id)).sum / 1e6)
    }
    def mean(k: Int) = perPass.map(_(k)).sum / math.max(perPass.size, 1)
    val table = new SnapshotTable(lastTable)
    val files = table.allFiles()
    Map(
      "jobs.driver_self_s" -> mean(0), "jobs.extract_write_s" -> mean(1),
      "jobs.lineage_s" -> mean(2), "jobs.write_mb" -> mean(3),
      "table.commits" -> summaries.map(_.snapshots.size).sum.toDouble / summaries.size,
      "table.data_files" -> files.size.toDouble,
      "table.read_s" -> readS,
      "table.bytes_per_text_byte" -> files.map(f => Files.size(Paths.get(f))).sum.toDouble / textBytes)
  }
}

/** `doc_lake`: a non-HTML document store read through `extractFrame` to a
  * `noop` sink, with no write or commit.
  */
final class DocLake(ctx: Ctx) extends ExtractionWorkload(ctx, "doc_lake", if (ctx.args.tiny) 200 else 4000) {
  protected def rows(seed: Long): Dataset[GenRow] = {
    import spark.implicits._
    spark.range(0, docsPerPass, 1, 16).as[Long].map(i => GenRow.of(i, Gen.lakeDoc(seed, i)))
  }

  protected def writeInput(rows: DataFrame): Unit =
    rows.select("url", "html").repartition(8).write.mode("overwrite").parquet(input)

  private def extracted(): DataFrame = xf.extractFrame(readInput(), cfg)

  def pass(): Unit = extracted().write.format("noop").mode("overwrite").save()

  def verify(alter: Boolean): Checked = {
    val (nBad, first) = check(extracted(), alter)
    Checked(docsPerPass, nBad, first)
  }

  def traceMetrics(exec: ExecListener, passSpans: Seq[(Double, Double)]): Map[String, Double] = Map.empty
}
