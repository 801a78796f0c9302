package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Caches, CsvIngest}
import graft.model._
import graft.operators.CorpusPipeline

/** What every workload gets: the one session, the tracer, its own
  * working directory, and the seed its inputs come from. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: Path,
    val seed: Long, val nproc: Int) {
  val inputs: Path = work.resolve("inputs")
  val warehouse: Path = work.resolve("warehouse")
  /** Input files the run has handed to the engine so far. */
  val consumed = scala.collection.mutable.ArrayBuffer.empty[Path]
}

/** A failed output check; the op that raised it counts as failed. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** A closed-loop workload with a single client: set up once (untimed),
  * then timed ops back to back, each followed by its untimed checks. */
trait Workload {
  /** Untimed set-up: generate the inputs, then build whatever state the
    * ops need. */
  def setup(): Unit
  /** Untimed preparation of op `i`'s input (the file landing). */
  def land(i: Int): Unit = ()
  /** One timed operation. */
  def op(i: Int): Unit
  /** Untimed output check of op `i`; throws [[CheckFailed]]. */
  def checkOp(i: Int): Unit = ()
  /** Untimed final output check over everything the run did. */
  def finalCheck(ops: Int): Unit
  /** Counts the last op reported about itself, by per-layer metric. */
  var facts: Map[String, Double] = Map.empty
}

object Workloads {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "nightly_increment" => new NightlyIncrement(ctx)
    case "corpus_store" => new CorpusStore(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Order-insensitive content digest: (rows, sum of per-row hashes over
    * the columns in name order). */
  def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val cols = df.columns.sorted.map(col)
    val r = df.agg(count(lit(1)),
      sum(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  def timed(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }

  /** Regular files under `dir` (none when it does not exist). */
  def files(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).toArray.toSeq.map(_.asInstanceOf[Path])
      finally s.close()
    }

  /** `Runner` threads, EngineCli's default. */
  val RunnerThreads = 1
}

import Workloads._

// ---- nightly_increment ------------------------------------------------

/** Each op is one night, from CSV landing to tested marts: the night's
  * events CSV is loaded (`CsvIngest.load`) into the landing table, the
  * incremental project runs on the path materializer, then its tests. */
final class NightlyIncrement(ctx: Ctx) extends Workload {
  import ctx._
  /** Nights landed before timing starts, so timed nights run against a
    * history rather than an empty warehouse (an assumption, kept small
    * for set-up time). */
  val Bootstrap = 6
  private val csvDir = inputs.resolve("nights")
  private val landing = warehouse.resolve("landing").toString
  private var report: Map[String, Long] = Map.empty

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType),
    StructField("night", IntegerType)))

  private val project: Project = {
    val src = SourceDef("ev", "landing", s => s.read.parquet(landing))
    val latest = SqlModel("events_latest",
      """SELECT event_id, ts, user_id, event_type, value, night,
        |  CAST(CAST(ts AS DATE) AS STRING) AS day
        |FROM (
        |  SELECT *, row_number() OVER (
        |      PARTITION BY event_id ORDER BY night DESC) AS rn
        |  FROM {{ source('ev', 'landing') }}
        |  WHERE {{ incremental_filter('night') }})
        |WHERE rn = 1""".stripMargin,
      Materialization.IncrementalByKey(Seq("event_id")),
      eventTime = Some("ts"))
    val daily = SqlModel("daily_totals",
      """SELECT day, event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2))
        |    AS total_value,
        |  MAX(night) AS night
        |FROM {{ ref('events_latest') }}
        |WHERE day IN (SELECT day FROM {{ ref('events_latest') }}
        |  WHERE {{ incremental_filter('night') }})
        |GROUP BY day, event_type""".stripMargin,
      Materialization.IncrementalByPartition(Seq("day")))
    val log = SqlModel("events_log",
      """SELECT event_id, ts, value, night
        |FROM {{ source('ev', 'landing') }}
        |WHERE {{ incremental_filter('night') }}""".stripMargin,
      Materialization.IncrementalAppend())
    val hourly = SqlModel("hourly_mb",
      """SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2))
        |    AS total_value
        |FROM {{ ref('events_latest') }}
        |GROUP BY 1""".stripMargin,
      // The lookback covers the 1–3 nights late rows re-deliver.
      Materialization.Microbatch("hour", "day", lookback = 3),
      eventTime = Some("hour"))
    Project(Seq(src), Seq(latest, daily, log, hourly), tests = Seq(
      Unique("events_latest", "event_id"),
      NotNull("events_latest", "ts"),
      ExpressionIsTrue("daily_totals", "n_events > 0", "nonempty"),
      IsPositiveAmount("hourly_mb", "total_value")))
  }
  private val marts = Seq("events_latest", "daily_totals", "events_log",
    "hourly_mb")

  private def runner(base: String) =
    new Runner(project, Target.dev, new PathMaterializer(base))

  private def csvPath(k: Int) = csvDir.resolve(f"night=$k%05d.csv")

  private val nightRows = scala.collection.mutable.HashMap.empty[Int, Int]

  private def writeNight(k: Int): Unit = {
    val events = Gen.night(seed, k)
    nightRows(k) = events.size
    val body = events.map(e => s"${e.csv},$k").mkString("", "\n", "\n")
    Files.createDirectories(csvDir)
    Files.write(csvPath(k), body.getBytes(StandardCharsets.UTF_8))
    consumed += csvPath(k)
  }

  private def ingest(path: Path): Unit = tracer.span("core.ingest") {
    CsvIngest.load(spark, path.toString, schema)
      .write.mode("append").parquet(landing)
  }

  def setup(): Unit = {
    tracer.span("setup.generate")((0 until Bootstrap).foreach(writeNight))
    // The bootstrap nights land together, as one backfill.
    ingest(csvDir)
    tracer.span("model.run")(runner(s"$warehouse/path-marts").run(spark))
  }

  /** Night landed by op `i`. */
  private def nightOf(i: Int) = Bootstrap + i

  override def land(i: Int): Unit = writeNight(nightOf(i))

  def op(i: Int): Unit = {
    ingest(csvPath(nightOf(i)))
    val r = runner(s"$warehouse/path-marts")
    val nodes = tracer.span("model.run") {
      r.run(spark, runResultsPath = Some(s"$warehouse/run_results.json"),
        threads = RunnerThreads)
    }
    facts = Map("model.node_busy_s" -> nodes.map(_.millis).sum / 1e3,
      "core.ingest_rows" -> nightRows(nightOf(i)).toDouble)
    report = tracer.span("model.tests") {
      r.testReport(spark).collect().map(x => x.getString(0) -> x.getLong(1))
        .toMap
    }
  }

  override def checkOp(i: Int): Unit =
    if (report.size != project.tests.size || report.values.exists(_ != 0))
      throw new CheckFailed(s"night ${nightOf(i)} test violations $report")

  /** The incremental marts equal a full refresh of the same project over
    * every landed night. */
  def finalCheck(ops: Int): Unit = {
    val inc = runner(s"$warehouse/path-marts")
    val full = runner(work.resolve("reference-marts").toString)
    full.run(spark, fullRefresh = true)
    marts.foreach { m =>
      val (a, b) = (digest(inc.table(spark, m)), digest(full.table(spark, m)))
      if (a != b) throw new CheckFailed(
        s"incremental $m digest $a differs from full refresh $b")
    }
  }
}

// ---- corpus_store -----------------------------------------------------

/** The full-recipe store lifecycle: the history build is set-up; each op
  * is one store night, an `appendBatchFull` of the next ids followed by a
  * `deleteFull` takedown (a fixed 1:1 ratio, as gate p11 runs them). */
final class CorpusStore(ctx: Ctx) extends Workload {
  import ctx._
  import spark.implicits._
  /** More store nights than fit in the launcher's run time limit. */
  val MaxCycles = 24
  private val plan = Gen.corpusPlan(seed, MaxCycles)
  private val st = CorpusPipeline.FullState("pb_store")

  private def path(name: String) = inputs.resolve(name)

  private def writeDocs(ids: Seq[Long], name: String): Unit = {
    ids.map(id => (id, plan.text(id))).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(path(name).toString)
    ids.filter(Gen.hasEmbedding).map(id => (id, Gen.embedding(id)))
      .toDF("vec_id", "embedding").coalesce(1).write.mode("overwrite")
      .parquet(path(s"$name.emb").toString)
    consumed ++= files(path(name)) ++ files(path(s"$name.emb"))
  }
  private def docs(name: String) = spark.read.parquet(path(name).toString)
  private def emb(name: String) =
    spark.read.parquet(path(s"$name.emb").toString)
  /** Every embedding row the store may need: history plus batches so far. */
  private def allEmb(n: Int) =
    (emb("history") +: (0 until n).map(c => emb(s"batch$c"))).reduce(_ union _)

  private def build(st: CorpusPipeline.FullState, history: DataFrame,
      histEmb: DataFrame): Unit =
    CorpusPipeline.buildHistoryFull(spark, history, histEmb, docs("bench"),
      "doc_id", "text", "vec_id", "embedding", st)

  def setup(): Unit = {
    tracer.span("setup.generate") {
      writeDocs(plan.historyIds, "history")
      writeDocs(plan.benchIds, "bench")
    }
    tracer.span("operators.build")(build(st, docs("history"), emb("history")))
  }

  /** Op `i` runs cycle `i` of the plan. */
  override def land(c: Int): Unit = {
    require(c < MaxCycles, s"corpus plan exhausted at cycle $c")
    writeDocs(plan.cycles(c).ids, s"batch$c")
  }

  def op(c: Int): Unit = {
    tracer.span("operators.append") {
      CorpusPipeline.appendBatchFull(spark, docs(s"batch$c"), emb(s"batch$c"),
        "doc_id", "text", "vec_id", "embedding", st, s"b$c")
    }
    val (nFamily, _, _) = tracer.span("operators.delete") {
      CorpusPipeline.deleteFull(spark, st,
        plan.cycles(c).victims.toDF("doc_id"), allEmb(c + 1),
        "vec_id", "embedding")
    }
    facts = Map("operators.delete_family_docs" -> nFamily.toDouble)
  }

  /** The store's manifest equals a fresh build over the surviving inputs
    * (inputs minus every takedown family), codebook trained on the same
    * history slice — the property gate p11 pins. */
  def finalCheck(cycles: Int): Unit = {
    val gone = plan.removed(cycles).toSeq.toDF("doc_id")
    val ref = CorpusPipeline.FullState("pb_reference")
    build(ref, docs("history").join(gone, Seq("doc_id"), "left_anti"),
      emb("history"))
    val rest = (0 until cycles).map(c => docs(s"batch$c")).reduce(_ union _)
      .join(gone, Seq("doc_id"), "left_anti")
    val restEmb = (0 until cycles).map(c => emb(s"batch$c")).reduce(_ union _)
    CorpusPipeline.appendBatchFull(spark, rest, restEmb, "doc_id", "text",
      "vec_id", "embedding", ref, "all")
    def manifest(s: CorpusPipeline.FullState) =
      CorpusPipeline.readManifest(spark, s.base).orderBy("pack_id")
        .collect().toSeq
    val (got, want) = (manifest(st), manifest(ref))
    Caches.releaseAll()
    if (got != want) throw new CheckFailed(
      s"store manifest (${got.size} packs) differs from a fresh build " +
        s"over the surviving inputs (${want.size} packs)")
  }
}
