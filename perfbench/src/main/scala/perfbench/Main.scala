package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one seed, one JVM.
  *
  *   perfbench.Main --workload NAME --seed N --seconds S --trace 0|1
  *
  * Sets up (untimed), runs the workload's ops back to back for S seconds
  * and at least one op (a closed loop with one client), checks the
  * outputs, and prints the result as the last stdout line:
  * `{"correct", "attempted", "failed", "metrics"}` — end-to-end metrics
  * with `--trace 0`, per-layer metrics with `--trace 1`. The line before
  * it, and `.bench_build/results/`, hold the full record: host facts,
  * session configuration, per-kind samples and (traced) every span. */
object Main {
  final case class Sample(seconds: Double, ok: Boolean)

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val stealAtStart = stealSeconds()
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val nproc = Runtime.getRuntime.availableProcessors
    val root = Paths.get("").toAbsolutePath
    val work = root.resolve(".bench_build").resolve("work")
      .resolve(s"$workload-$seed-${opts("trace")}")
    Workloads.rmrf(work)
    Files.createDirectories(work)

    val spark = session(nproc, work)
    val tracer = new Tracer(spark, attribute = trace)
    val ctx = new Ctx(spark, tracer, work, seed, nproc)
    val wl = Workloads(workload, ctx)
    wl.setup()
    val setupS = (tracer.nowMs - jvmStartMs) / 1e3

    val samples = ArrayBuffer.empty[Sample]
    val facts = ArrayBuffer.empty[Map[String, Double]]
    val errors = ArrayBuffer.empty[String]
    val loopStart = System.nanoTime()
    while (samples.isEmpty || (System.nanoTime() - loopStart) / 1e9 < seconds) {
      val i = samples.size
      tracer.span("land")(wl.land(i))
      val t0 = System.nanoTime()
      val ran = try { tracer.op(i)(wl.op(i)); true } catch {
        case NonFatal(e) => errors += s"op $i: $e"; false
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val ok = ran && (try { tracer.span("verify")(wl.checkOp(i)); true }
        catch { case NonFatal(e) => errors += s"op $i check: $e"; false })
      samples += Sample(secs, ok)
      facts += wl.facts
      // Frames the engine pinned for the op; the engine leaves their
      // release to its caller, between operations.
      graft.core.Caches.releaseAll()
    }
    // Disk and storage-memory use of the workload's own state, before the
    // final check and the kernel probes add blocks and files of their own.
    val whFiles = Workloads.files(ctx.warehouse)
    val whBytes = whFiles.map(Files.size(_)).sum
    val cachePeakMb = tracer.peakBlockMb
    val finalOk = try { tracer.span("verify")(wl.finalCheck(samples.size)); true }
      catch { case NonFatal(e) => errors += s"final check: $e"; false }
    val failed = samples.count(!_.ok)
    val correct = finalOk && failed == 0

    val opSecs = samples.map(_.seconds).toSeq
    val inputBytes = ctx.consumed.distinct.map(Files.size(_)).sum
    val kinds = kindSamples(tracer.spans, opSecs)
    val detail = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "host" -> host(spark, nproc),
      "steal_s" -> stealSeconds().map(_ - stealAtStart.getOrElse(0.0)),
      "session" -> sessionConf(spark),
      "ops" -> ListMap(kinds.map { case (k, xs) =>
        k -> (Map("n" -> xs.size, "p50_s" -> Stats.median(xs),
          "samples_s" -> xs) ++ Stats.tail(xs).map { case (p, v) =>
            Map("tail_percentile" -> p, "tail_s" -> v) }.getOrElse(Map.empty))
      }: _*),
      "error_rate" -> failed.toDouble / samples.size,
      "errors" -> errors.toSeq,
      "input_bytes" -> inputBytes, "warehouse_bytes" -> whBytes,
      "warehouse_files" -> whFiles.size)

    val metrics: Seq[(String, Double)] =
      if (!trace) Seq(
        "setup_s" -> setupS,
        "op_p50_s" -> Stats.median(opSecs),
        "space_amp" -> whBytes.toDouble / inputBytes)
      else {
        val probes = Probes.run(ctx)
        layerMetrics(tracer, nproc, facts.toSeq, opSecs) ++ probes ++ Seq(
          "disk.files" -> whFiles.size.toDouble,
          "cache_peak_mb" -> cachePeakMb)
      }
    val defs = if (trace) Metrics.PerLayer else Metrics.EndToEnd
    val byName = metrics.toMap
    val missing = defs.map(_.name).filterNot(byName.contains)
    require(missing.isEmpty, s"metrics not computed: $missing")
    val nonFinite = metrics.filter(m => m._2.isNaN || m._2.isInfinite)
    require(nonFinite.isEmpty, s"non-finite metrics: $nonFinite")

    val spanRecs = if (!trace) Nil else tracer.costs().map { c =>
      Map("id" -> c.span.id, "name" -> c.span.name, "parent" -> c.span.parent,
        "op" -> c.span.op, "start_ms" -> c.span.startMs,
        "end_ms" -> c.span.endMs, "self_ms" -> c.selfMs, "jobs" -> c.jobs,
        "tasks" -> c.tasks, "gap_share" -> c.gapShare,
        "shuffle_read" -> c.shuffleRead, "shuffle_write" -> c.shuffleWrite,
        "input_bytes" -> c.input, "output_bytes" -> c.output)
    }
    val result = ListMap(
      "correct" -> correct, "attempted" -> samples.size, "failed" -> failed,
      "metrics" -> ListMap(defs.map(d =>
        d.name -> ListMap("value" -> byName(d.name), "unit" -> d.unit)): _*))
    val record = detail ++ Map("result" -> result, "spans" -> spanRecs,
      "unattributed_jobs" -> (if (trace) tracer.unattributedJobs else 0),
      "layer_moves" -> ListMap(Metrics.PerLayer.map(d => d.name -> d.moves): _*))
    val out = root.resolve(".bench_build").resolve("results")
    Files.createDirectories(out)
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    json.writeValue(
      out.resolve(s"$workload-seed$seed-trace${opts("trace")}.json").toFile,
      record)
    println(json.writeValueAsString(detail))
    println(json.writeValueAsString(result))
    spark.stop()
    Workloads.rmrf(work)
    System.exit(if (correct) 0 else 1)
  }

  /** The session EngineCli creates, sized to this host, its warehouse in
    * the run's working directory (run.py keeps Spark's scratch space in
    * the checkout through SPARK_LOCAL_DIRS). */
  def session(nproc: Int, work: Path): SparkSession =
    SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  private def host(spark: SparkSession, nproc: Int): Map[String, Any] = Map(
    "nproc" -> nproc,
    "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
    "spark_version" -> spark.version,
    "scala_version" -> scala.util.Properties.versionNumberString,
    "java_version" -> System.getProperty("java.version"),
    "git_sha" -> sys.props.getOrElse("perfbench.git", "unknown"),
    "source_sha256" -> sys.props.getOrElse("perfbench.source", "unknown"))

  /** CPU time the hypervisor gave to other guests since boot (Linux
    * `/proc/stat`), so runs slowed by a busy host can be told apart. */
  private def stealSeconds(): Option[Double] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+")(8).toDouble / 100
    finally src.close()
  }.toOption

  private def sessionConf(spark: SparkSession): Map[String, Any] = Map(
    "master" -> spark.sparkContext.master,
    "runner_threads" -> Workloads.RunnerThreads,
    "conf" -> spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" }.toSeq.sorted.toMap)

  /** Wall times of the workload's ops, and of each store verb on its own
    * when the workload calls them. */
  private def kindSamples(spans: Seq[Span],
      opSecs: Seq[Double]): Seq[(String, Seq[Double])] = {
    def verb(v: String) = spans.filter(s => s.op >= 0 &&
      s.name == s"operators.$v").map(_.wallMs / 1e3)
    ("op" -> opSecs) +: Seq("append", "delete").map(v => v -> verb(v))
      .filter(_._2.nonEmpty)
  }

  /** Per-layer metrics of the traced run: each is the median over ops of
    * the layer's spans within the op (0 when the workload never calls
    * that layer). */
  def layerMetrics(tracer: Tracer, nproc: Int, facts: Seq[Map[String, Double]],
      opSecs: Seq[Double]): Seq[(String, Double)] = {
    val costs = tracer.costs()
    val inOps = costs.filter(_.span.op >= 0)
    final case class Agg(wallMs: Double, jobs: Double, tasks: Double,
        taskMs: Double, gapMs: Double, shuffleMb: Double, scanMb: Double,
        writtenMb: Double) {
      def gap = if (wallMs <= 0) 0.0 else gapMs / wallMs
      def util = if (wallMs <= 0) 0.0 else taskMs / (wallMs * nproc)
    }
    def agg(cs: Seq[SpanCost]) = Agg(cs.map(_.span.wallMs).sum,
      cs.map(_.jobs).sum, cs.map(_.tasks).sum, cs.map(_.taskMs).sum,
      cs.map(c => c.gapShare * c.span.wallMs).sum,
      cs.map(_.shuffleWrite).sum / 1e6, cs.map(_.input).sum / 1e6,
      cs.map(_.output).sum / 1e6)
    def med(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
    def layer(name: String)(f: Agg => Double) =
      med(inOps.filter(_.span.name == name).groupBy(_.span.op).values
        .map(cs => f(agg(cs))))
    def fact(k: String) = med(facts.flatMap(_.get(k)))
    val build = costs.filter(_.span.name == "operators.build")

    val verbs = Seq("append", "delete").flatMap { v =>
      val n = s"operators.$v"
      Seq(s"${n}_s" -> layer(n)(_.wallMs / 1e3),
        s"${n}_jobs" -> layer(n)(_.jobs),
        s"${n}_tasks" -> layer(n)(_.tasks),
        s"${n}_shuffle_mb" -> layer(n)(_.shuffleMb),
        s"${n}_gap_share" -> layer(n)(_.gap),
        s"${n}_slot_util" -> layer(n)(_.util),
        s"${n}_written_mb" -> layer(n)(_.writtenMb))
    }
    // Share of an op's wall time outside every layer span: the op span's
    // own self time.
    val unspanned = inOps.filter(_.span.name == "op").map(c =>
      if (c.span.wallMs <= 0) 0.0 else c.selfMs / c.span.wallMs)
    val ingestS = layer("core.ingest")(_.wallMs / 1e3)
    Seq(
      "model.run_s" -> layer("model.run")(_.wallMs / 1e3),
      "model.run_jobs" -> layer("model.run")(_.jobs),
      "model.run_tasks" -> layer("model.run")(_.tasks),
      "model.run_gap_share" -> layer("model.run")(_.gap),
      "model.run_slot_util" -> layer("model.run")(_.util),
      "model.run_written_mb" -> layer("model.run")(_.writtenMb),
      "model.node_busy_s" -> fact("model.node_busy_s"),
      "model.tests_s" -> layer("model.tests")(_.wallMs / 1e3),
      "model.tests_jobs" -> layer("model.tests")(_.jobs),
      "model.tests_scan_mb" -> layer("model.tests")(_.scanMb),
      "core.ingest_s" -> ingestS,
      "core.ingest_jobs" -> layer("core.ingest")(_.jobs),
      "core.ingest_rows_per_s" ->
        (if (ingestS > 0) fact("core.ingest_rows") / ingestS else 0.0),
      "operators.build_s" -> med(build.map(_.span.wallMs / 1e3)),
      "operators.build_jobs" -> med(build.map(_.jobs.toDouble)),
      "operators.delete_family_docs" -> fact("operators.delete_family_docs"),
      "trace.op_p50_s" -> Stats.median(opSecs),
      "trace.op_unspanned_share" -> med(unspanned)
    ) ++ verbs
  }
}
