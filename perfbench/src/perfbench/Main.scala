package perfbench

import org.apache.spark.perfbenchbridge.BusDrain
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, tiny: Boolean,
    alterExpected: Boolean, work: Path, out: Path)

/** Everything a workload needs from the run. */
final class Ctx(val args: Args, val spark: SparkSession, val spans: Spans) {
  def seed: Long = args.seed
  def dir(name: String): String = args.work.resolve(name).toString
}

/** Outcome of checking the program's outputs against the generator's truth. */
final case class Checked(attempted: Long, failed: Long, firstBad: Option[String])

/** Passes of one kind in the timed loop: their count, summed time and spans. */
final class Phase {
  var wall = 0.0
  val spans = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
}

/** Per-document single-caller record of the traced layer loop: each layer's
  * time in every round, and its allocation.
  */
final case class DocLayers(family: String, ns: Map[String, Seq[Double]], bytes: Map[String, Double])

/** A benchmark workload: seeded inputs, one closed-loop unit of work (a
  * pass), a single-caller per-document latency probe and an output check.
  */
trait Workload {
  def docsPerPass: Long
  /** Input bytes one pass reads (payload bytes, or text bytes for curate). */
  def bytesPerPass: Long
  /** Writes this seed's inputs; called several times, each call rewrites them. */
  def generate(): Unit
  def pass(): Unit
  /** Untimed work after a pass (cleanup, per-pass checks). */
  def afterPass(): Unit = ()
  /** Loads the documents the latency probe and the layer loop call the library on. */
  def loadSample(): Unit
  /** One closed-loop round of the library call a single caller makes, over
    * the sample: µs per document.
    */
  def latencyRound(): Array[Double]
  /** Per-document layer timings (every one of `rounds`) and allocation, for the traced run. */
  def layers(rounds: Int): Seq[DocLayers]
  def verify(alter: Boolean): Checked
  /** Trace-only metrics of this workload's own layers (jobs, table, pipeline). */
  def traceMetrics(exec: ExecListener, passSpans: Seq[(Double, Double)]): Map[String, Double]
  /** Whether a Spark job whose tasks did (not) write output counts as extraction-stage time in `exec.kernel_share`. */
  def kernelStage(wroteOutput: Boolean): Boolean = true
}

object Main {
  val Cores = 4
  val SetupReps = 3
  val ProbeRounds = 4

  val Families = Seq("html", "text", "pdf", "office", "ocr", "container", "mail", "bad")
  val PipelineOps = Seq("normalize", "gate", "dedup_exact", "minhash", "decontam", "split")

  val EndToEnd: Seq[(String, String)] = Seq(
    "docs_per_s" -> "docs/s", "input_mb_per_s" -> "MB/s", "doc_p50_us" -> "us", "doc_p99_us" -> "us",
    "setup_s" -> "s", "rss_peak_mb" -> "MB")

  val PerLayer: Seq[(String, String)] =
    Seq("sniff.p50_us" -> "us", "sniff.alloc_b_per_doc" -> "B") ++
      Families.flatMap(f => Seq(s"extract.$f.p50_us" -> "us", s"extract.$f.p99_us" -> "us",
        s"extract.$f.alloc_kb_per_doc" -> "KB", s"extract.$f.docs" -> "count")) ++
      Seq("convert.p50_us" -> "us", "convert.alloc_kb_per_doc" -> "KB",
        "exec.jobs" -> "count", "exec.tasks" -> "count", "exec.tasks_failed" -> "count",
        "exec.run_s" -> "s", "exec.cpu_s" -> "s", "exec.gc_s" -> "s", "exec.busy_share" -> "fraction",
        "exec.task_max_over_p50" -> "ratio", "exec.shuffle_write_mb" -> "MB", "exec.kernel_share" -> "fraction",
        "jobs.driver_self_s" -> "s", "jobs.extract_write_s" -> "s", "jobs.lineage_s" -> "s", "jobs.write_mb" -> "MB",
        "table.commits" -> "count", "table.data_files" -> "count", "table.read_s" -> "s",
        "table.bytes_per_text_byte" -> "ratio") ++
      PipelineOps.flatMap(op => Seq(s"pipeline.$op.s" -> "s", s"pipeline.$op.shuffle_mb" -> "MB")) ++
      Seq("trace.docs_per_s" -> "docs/s", "trace.overhead_share" -> "fraction")

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val work = Paths.get(need("work")).toAbsolutePath
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      m.get("size").contains("tiny"), m.get("alter-expected").contains("1"),
      work, Paths.get(need("out")).toAbsolutePath)
  }

  private def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      // the production job's settings (ExtractJob.main): shuffle width = cores,
      // 64 MiB splits, UTC; everything the run writes stays under the work dir
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.files.maxPartitionBytes", "67108864")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.range(1).count() // executors up before the clock stops
    s
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  private def hostFingerprint(a: Args, spark: SparkSession): Map[String, Any] = {
    val memTotal = scala.io.Source.fromFile("/proc/meminfo").getLines().find(_.startsWith("MemTotal:"))
      .map(_.split("\\s+")(1).toLong * 1024L).getOrElse(-1L)
    val nproc = Runtime.getRuntime.availableProcessors()
    import scala.jdk.CollectionConverters._
    Map(
      "nproc" -> nproc,
      "mem_total_bytes" -> memTotal,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "jvm_flags" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toList,
      "spark" -> spark.version,
      "spark_master" -> s"local[$Cores]",
      "git_commit" -> sys.props.getOrElse("perfbench.commit", "unknown"),
      "source_sha256" -> sys.props.getOrElse("perfbench.source", "unknown"),
      "seed" -> a.seed,
      "workload" -> a.workload,
      // graft.Bench's N→4N pair needs 16 cores (4 executors × local[4])
      "graft_bench_scaling_pair" ->
        (if (nproc < 16) s"not measured (host has $nproc cores, the pair needs 16)"
         else "not measured by this benchmark"))
  }

  def main(argv: Array[String]): Unit = {
    val code = try run(parse(argv)) catch {
      case e: Throwable =>
        System.err.println(s"perfbench: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
        3
    }
    System.exit(code)
  }

  private def run(a: Args): Int = {
    Files.createDirectories(a.work)
    Files.createDirectories(a.out)
    val spans = new Spans(a.trace)
    val root = spans.open()
    val runStart = spans.nowUs()

    var t = System.nanoTime()
    val spark = session(a)
    val sessionS = secs(t)
    spans.add(root, "setup.session", runStart, spans.nowUs())
    val ctx = new Ctx(a, spark, spans)
    val w: Workload = a.workload match {
      case "crawl_job" => new CrawlJob(ctx)
      case "doc_lake" => new DocLake(ctx)
      case "curate" => new Curate(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: input generation repeated (median), then one warm pass (JIT)
    // and the probe's sample
    val genS = (1 to SetupReps).map { rep =>
      val s = spans.nowUs()
      val t0 = System.nanoTime()
      w.generate()
      val d = secs(t0)
      spans.add(root, "setup.generate", s, spans.nowUs(), Map("rep" -> rep))
      d
    }
    t = System.nanoTime()
    val ws = spans.nowUs()
    w.pass()
    w.afterPass()
    w.loadSample()
    val warmS = secs(t)
    spans.add(root, "setup.warm", ws, spans.nowUs())
    val setupS = sessionS + Stats.median(genS) + warmS
    println(f"setup session $sessionS%.3f s, generate ${genS.map(g => f"$g%.3f").mkString(" ")} s, warm $warmS%.3f s")

    // the latency probe's rounds run between the timed passes, spread over
    // the phase; every call of a round counts, GC pauses included, and the
    // median over rounds keeps one round that the machine's other tenants
    // slowed from setting the figure
    val probe = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]

    /** The closed loop: one driver thread runs pass after pass until the
      * passes' own time reaches --seconds. With a listener, traced passes
      * alternate with untraced ones, first in every other pair, so JIT
      * warm-up and drift cancel out of the tracing-overhead figure; only
      * traced passes feed the listener.
      */
    def timed(exec: Option[ExecListener]): (Phase, Phase) = {
      val phase = spans.open()
      val ps = spans.nowUs()
      val plain = new Phase
      val traced = new Phase
      var n = 0
      def one(into: Phase): Unit = {
        // drained first, so no trailing event of an untraced pass reaches the listener
        exec.filter(_ => into eq traced).foreach { l =>
          BusDrain(spark.sparkContext)
          spark.sparkContext.addSparkListener(l)
        }
        val s = spans.nowUs()
        val t0 = System.nanoTime()
        w.pass()
        into.wall += secs(t0)
        val e = spans.nowUs()
        into.spans += (s -> e)
        spans.add(phase, "pass", s, e, Map("i" -> n, "traced" -> (into eq traced)))
        exec.filter(_ => into eq traced).foreach { l =>
          BusDrain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(l)
        }
        w.afterPass()
        n += 1
      }
      var pair = 0
      while (plain.spans.isEmpty || plain.wall < a.seconds || (exec.isDefined && traced.wall < a.seconds)) {
        if (exec.isEmpty) {
          one(plain)
          if (probe.size < ProbeRounds - 1) probe += w.latencyRound()
        } else if (pair % 2 == 0) { one(plain); one(traced) }
        else { one(traced); one(plain) }
        pair += 1
      }
      while (exec.isEmpty && probe.size < ProbeRounds) probe += w.latencyRound()
      spans.close(phase, root, "timed", ps)
      (plain, traced)
    }

    t = System.nanoTime()
    val exec = if (a.trace) Some(new ExecListener) else None
    val (plain, traced) = timed(exec)
    val rssMb = vmHwmMb()
    println(f"timed ${plain.spans.size} + ${traced.spans.size} traced passes, ${secs(t)}%.3f s with untimed cleanup")
    val docsPerS = plain.spans.size * w.docsPerPass / plain.wall
    val mbPerS = plain.spans.size * w.bytesPerPass / 1e6 / plain.wall

    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    if (!a.trace) {
      println(s"latency probe ${probe.size} rounds x ${probe.head.length} calls")
      def perRound(q: Double) = Stats.median(probe.toSeq.map(r => Stats.quantile(r.toSeq, q)))
      metrics ++= Seq("docs_per_s" -> docsPerS, "input_mb_per_s" -> mbPerS,
        "doc_p50_us" -> perRound(0.5), "doc_p99_us" -> perRound(0.99),
        "setup_s" -> setupS, "rss_peak_mb" -> rssMb)
    }

    val vs = spans.nowUs()
    t = System.nanoTime()
    val checked = w.verify(a.alterExpected)
    println(f"verify ${secs(t)}%.3f s")
    spans.add(root, "verify", vs, spans.nowUs(), Map("failed" -> checked.failed))

    exec.foreach { exec =>
      val tracedDocsPerS = traced.spans.size * w.docsPerPass / traced.wall
      val ls = spans.nowUs()
      val docs = w.layers(2)
      spans.add(root, "layers", ls, spans.nowUs(), Map("docs" -> docs.size))
      metrics ++= layerMetrics(docs)
      metrics ++= execMetrics(exec, w, traced.spans.size, traced.wall, docs)
      exec.snapshot()._1.foreach { j =>
        spans.add(root, "spark.job", spans.epochMsToUs(j.startMs), spans.epochMsToUs(j.endMs),
          Map("job" -> j.id, "site" -> j.site))
      }
      metrics ++= w.traceMetrics(exec, traced.spans.toSeq)
      metrics ++= Seq("trace.docs_per_s" -> tracedDocsPerS,
        "trace.overhead_share" -> (docsPerS - tracedDocsPerS) / docsPerS)
      PerLayer.foreach { case (k, _) => if (!metrics.contains(k) || metrics(k).isNaN) metrics(k) = 0.0 }
    }
    spans.close(root, 0, s"run.${a.workload}", runStart)

    val host = hostFingerprint(a, spark)
    t = System.nanoTime()
    spark.stop()
    println(f"run ${(spans.nowUs() - runStart) / 1e6}%.3f s, session stop ${secs(t)}%.3f s")

    val tag = s"${a.workload}-s${a.seed}-t${if (a.trace) 1 else 0}"
    if (a.trace) spans.write(a.out.resolve(s"spans-$tag.jsonl"))
    val units = (EndToEnd ++ PerLayer).toMap
    val names = if (a.trace) PerLayer.map(_._1) else EndToEnd.map(_._1)
    val failedShare = checked.failed.toDouble / checked.attempted
    println(s"host ${Json(host)}")
    println(f"metric ${"failed_share"}%-34s $failedShare%.6f fraction (${checked.failed}/${checked.attempted})")
    if (!a.trace) println(f"metric ${"passes"}%-34s ${plain.spans.size}%d count over ${plain.wall}%.3f s")
    names.foreach(k => println(f"metric $k%-34s ${metrics(k)}%.6g ${units(k)}"))
    val result = Json(Map(
      "correct" -> (checked.failed == 0),
      "attempted" -> checked.attempted,
      "failed" -> checked.failed,
      "metrics" -> scala.collection.immutable.ListMap(names.map(k =>
        k -> scala.collection.immutable.ListMap("value" -> metrics(k), "unit" -> units(k))): _*)))
    val summary = Json(Map("host" -> host, "passes" -> plain.spans.size, "timed_s" -> plain.wall,
      "failed_share" -> failedShare, "first_bad" -> checked.firstBad.getOrElse("")))
    Files.write(a.out.resolve(s"result-$tag.json"), s"${summary.dropRight(1)}, \"result\": $result}\n".getBytes("UTF-8"))
    if (checked.failed > 0)
      println(s"check failed: ${checked.failed} of ${checked.attempted} outputs wrong; first bad url: ${checked.firstBad.getOrElse("?")}")
    else println(s"check ok: ${checked.attempted} outputs match")
    println(result)
    if (checked.failed > 0) 1 else 0
  }

  private def layerMetrics(docs: Seq[DocLayers]): Map[String, Double] = {
    val m = scala.collection.mutable.Map.empty[String, Double]
    Seq("sniff" -> 1.0, "convert" -> 1024.0).foreach { case (layer, unit) =>
      val ds = docs.filter(_.ns.contains(layer))
      if (ds.nonEmpty) {
        m(s"$layer.p50_us") = Stats.median(ds.flatMap(_.ns(layer)).map(_ / 1e3))
        m(if (layer == "sniff") "sniff.alloc_b_per_doc" else s"$layer.alloc_kb_per_doc") =
          ds.map(_.bytes(layer)).sum / ds.size / unit
      }
    }
    docs.filter(d => Families.contains(d.family)).groupBy(_.family).foreach { case (f, ds) =>
      val us = ds.flatMap(_.ns("extract")).map(_ / 1e3)
      m(s"extract.$f.p50_us") = Stats.quantile(us, 0.5)
      m(s"extract.$f.p99_us") = Stats.quantile(us, 0.99)
      m(s"extract.$f.alloc_kb_per_doc") = ds.map(_.bytes("extract")).sum / ds.size / 1024
      m(s"extract.$f.docs") = ds.size.toDouble
    }
    m.toMap
  }

  private def execMetrics(exec: ExecListener, w: Workload, passes: Int, wallS: Double,
      docs: Seq[DocLayers]): Map[String, Double] = {
    val (jobs, tasks) = exec.snapshot()
    val wroteOutput = tasks.groupBy(_.jobId).map { case (j, ts) => j -> ts.exists(_.outputB > 0) }
    val kernelTasks = tasks.filter(t => w.kernelStage(wroteOutput.getOrElse(t.jobId, false)))
    val stageRatios = kernelTasks.filterNot(_.failed).groupBy(_.stageId).values.filter(_.size >= 2).map { ts =>
      val run = ts.map(_.runMs.toDouble)
      run.max / math.max(Stats.median(run), 1.0)
    }.toSeq
    val calls = docs.flatMap(_.ns("extract"))
    val meanKernelUs = if (calls.isEmpty) 0.0 else calls.sum / calls.size / 1e3
    val kernelMs = meanKernelUs * w.docsPerPass * passes / 1e3
    Map(
      "exec.jobs" -> jobs.size.toDouble / passes,
      "exec.tasks" -> tasks.size.toDouble / passes,
      "exec.tasks_failed" -> tasks.count(_.failed).toDouble,
      "exec.run_s" -> tasks.map(_.runMs).sum / 1e3 / passes,
      "exec.cpu_s" -> tasks.map(_.cpuNs).sum / 1e9 / passes,
      "exec.gc_s" -> tasks.map(_.gcMs).sum / 1e3 / passes,
      "exec.busy_share" -> tasks.map(_.runMs).sum / 1e3 / (wallS * Cores),
      "exec.task_max_over_p50" -> (if (stageRatios.isEmpty) 0.0 else Stats.median(stageRatios)),
      "exec.shuffle_write_mb" -> tasks.map(_.shuffleWriteB).sum / 1e6 / passes,
      "exec.kernel_share" -> kernelMs / math.max(kernelTasks.map(_.runMs).sum.toDouble, 1.0))
  }
}
