package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.{PipelineRunner, PipelineSpec}
import graft.queries._
import graft.streaming.{StreamingRunner, StreamingSpec}

/** What one op reports back to the pass loop: rows produced, extra
  * fields for the result file, and its output check, which the loop runs
  * after the op's clock has stopped. */
final case class Outcome(rows: Long, extra: Seq[(String, Any)] = Nil,
                         check: Option[() => Check] = None)

/** One timed unit of work: a query, a feed run, or a streaming backfill. */
final case class Op(name: String, family: String, run: () => Outcome)

/** A read-back check made after a pass, outside the timed section. */
final case class Check(name: String, digest: String, expected: Option[String]) {
  def verdict: String = expected match {
    case None => "unchecked"
    case Some(e) if e == digest => "ok"
    case Some(_) => "mismatch"
  }
}

trait Workload {
  /** Scale-factor directory whose tables the session registers. */
  def sfDir: String
  /** Per-set-up preparation of the workload's own inputs. */
  def prepare(spark: SparkSession): Unit = ()
  /** Run once after set-up, untimed: the workload's kind of work, so the
    * timed pass does not pay for the first compilation of the code it
    * runs, whichever op the seed puts first. */
  def warmup(spark: SparkSession): Unit = ()
  /** Untimed clean-up before a pass (fresh output directories). */
  def beforePass(spark: SparkSession, pass: Int): Unit = ()
  /** The pass's ops in seed-permuted order. */
  def ops(spark: SparkSession, pass: Int, rng: scala.util.Random): Seq[Op]
  /** Untimed read-back checks after a pass. */
  def afterPass(spark: SparkSession, pass: Int): Seq[Check] = Nil
  /** Passes per `BenchMain.PassSeconds` of `--seconds`; the end-to-end
    * timings are medians over a run's passes. */
  def passesPerUnit: Int = 1
}

object Workloads {

  /** Family of every corpus query: the `defs` list that declares it. */
  val family: Map[String, String] = Seq(
    "Relational" -> Relational.defs, "Windows" -> Windows.defs,
    "Scalars" -> Scalars.defs, "TextVec" -> TextVec.defs,
    "ScaleOps" -> ScaleOps.defs, "Analytics" -> Analytics.defs)
    .flatMap { case (f, qs) => qs.map(_.name -> f) }.toMap

  def read(p: Path): String = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val files = Files.walk(p)
    try files.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally files.close()
  }

  /** [[Digest.of]] of a DataFrame's rows, summed where the rows are
    * instead of collecting them. */
  def digestOf(df: DataFrame): String = {
    val (n, sum) = df.rdd.map(r => (1L, Digest.rowHash(r)))
      .fold((0L, 0L)) { case ((n1, s1), (n2, s2)) => (n1 + n2, s1 + s2) }
    f"$n:$sum%016x"
  }
}

/** query-small / query-heavy: each op builds one corpus query with its
  * `Q.fn` and collects the result; the digest of the collected rows is
  * compared with the committed one after the op's clock stops. */
final class QueryWorkload(val sfDir: String, names: Seq[String], expected: Map[String, String],
                          warmNames: Seq[String], override val passesPerUnit: Int = 1)
    extends Workload {
  private val byName = graft.SparkEntry.corpus.map(q => q.name -> q).toMap
  require((names ++ warmNames).forall(byName.contains),
    s"unknown queries: ${(names ++ warmNames).filterNot(byName.contains).mkString(", ")}")

  override def warmup(spark: SparkSession): Unit =
    warmNames.foreach(n => byName(n).fn(spark, sfDir).collect())

  def ops(spark: SparkSession, pass: Int, rng: scala.util.Random): Seq[Op] =
    rng.shuffle(names).map { n =>
      val q = byName(n)
      Op(n, Workloads.family(n), () => {
        val b0 = System.nanoTime()
        val df = q.fn(spark, sfDir)
        val build = (System.nanoTime() - b0) / 1e9
        val rows = df.collect()
        Outcome(rows.length, Seq("build_s" -> build),
          Some(() => Check(n, Digest.of(rows.toSeq), expected.get(n))))
      })
    }
}

/** feed-etl: example feeds from the repo's `examples/` retargeted at the
  * bench data and a fresh output directory, interleaved with incremental
  * chains (upsert, rollup) that land batch after batch on standing
  * targets, and one streaming backfill: the `hourly_events_stream` example
  * under `trigger=availableNow` over time-ordered event files, one file per
  * micro-batch, into a checkpointed parquet sink. The seed permutes the
  * interleaving; each chain keeps its batch order, so every target's final
  * content is seed-independent. */
final class FeedWorkload(val sfDir: String, examples: Path, feeds: Path, out: Path,
                         expected: Map[String, String]) extends Workload {
  import FeedWorkload._
  private val warmOut = out.resolveSibling(out.getFileName.toString + "-warmup")

  private var specs: Seq[(String, Seq[String])] = Nil
  private var warmSpecs: Seq[(String, Seq[String])] = Nil
  private var stream: StreamingSpec = _
  private var warmStream: StreamingSpec = _

  /** Every feed's spec text per batch, reading `data` and writing `outDir`.
    * The examples' fixture and output roots are replaced with these. */
  private def specsFor(data: String, outDir: Path): Seq[(String, Seq[String])] = {
    def retarget(text: String): String = text
      .replaceAll("\"[^\"]*/sf0\\.001/", java.util.regex.Matcher.quoteReplacement("\"" + data + "/"))
      .replaceAll("\"[^\"]*/graft-example-out/", java.util.regex.Matcher.quoteReplacement("\"" + outDir + "/"))
    val oneShot = exampleFeeds.map { f => f -> Seq(retarget(Workloads.read(examples.resolve(f)))) }
    val chains = chainFeeds.map { case (f, batches) =>
      val text = Workloads.read(feeds.resolve(f))
      f -> (0 until batches).map(b => PipelineSpec.substitute(text, Map(
        "data" -> data, "out" -> outDir.toString, "batch" -> b.toString,
        "batches" -> batches.toString)))
    }
    oneShot ++ chains
  }

  /** The streaming example reading the event files under `data`, one
    * file per micro-batch, into `outDir`. */
  private def streamFor(data: String, outDir: Path): StreamingSpec = {
    val events = s"$data/$StreamEvents"
    val base = StreamingSpec.fromJson(Workloads.read(examples.resolve(StreamFeed)))
    base.copy(
      source = base.source.copy(path = s"$events/events_*.parquet",
        schemaFromParquet = Some(s"$events/events_000.parquet"),
        options = base.source.options + ("maxFilesPerTrigger" -> "1")),
      sink = base.sink.copy(path = outDir.resolve(StreamTarget).toString))
  }

  override def prepare(spark: SparkSession): Unit = {
    specs = specsFor(sfDir, out)
    warmSpecs = specsFor(sfDir, warmOut)
    stream = streamFor(sfDir, out)
    warmStream = streamFor(sfDir, warmOut)
  }

  /** Every feed once (the first batch of each chain) and the backfill, into
    * an output directory of their own. */
  override def warmup(spark: SparkSession): Unit = {
    Workloads.deleteTree(warmOut)
    warmSpecs.map(_._2.head).foreach(t => PipelineRunner.run(spark, PipelineSpec.fromJson(t)))
    StreamingRunner.run(spark, warmStream)
    Workloads.deleteTree(warmOut)
  }

  override def beforePass(spark: SparkSession, pass: Int): Unit = Workloads.deleteTree(out)

  def ops(spark: SparkSession, pass: Int, rng: scala.util.Random): Seq[Op] = {
    val queues = specs.map { case (f, texts) =>
      scala.collection.mutable.Queue(texts.zipWithIndex.map { case (t, b) =>
        feedOp(spark, if (texts.size > 1) s"${f.stripSuffix(".json")}#$b" else f.stripSuffix(".json"), t)
      }: _*)
    } :+ scala.collection.mutable.Queue(streamOp(spark))
    Iterator.continually(()).takeWhile(_ => queues.exists(_.nonEmpty)).map { _ =>
      val open = queues.filter(_.nonEmpty)
      val pick = rng.nextInt(open.map(_.size).sum)
      open.scanLeft(0)(_ + _.size).tail.zip(open).find(_._1 > pick).get._2.dequeue()
    }.toList
  }

  private def feedOp(spark: SparkSession, name: String, text: String): Op =
      Op(name, "feed", () => {
        val p0 = System.nanoTime()
        val spec = PipelineSpec.fromJson(text)
        val p1 = System.nanoTime()
        val report = PipelineRunner.run(spark, spec)
        val p2 = System.nanoTime()
        val failed = report.loads.filter(_.status != "ok")
        require(failed.isEmpty, s"$name: failed loads ${failed.map(_.target).mkString(", ")}")
        Outcome(report.loads.map(_.rows.max(0L)).sum, Seq(
          "parse_s" -> (p1 - p0) / 1e9, "run_s" -> (p2 - p1) / 1e9,
          "loads" -> report.loads.size, "load_attempts" -> report.loads.map(_.attempts).sum,
          "targets" -> spec.loads.map(l => l.format + ":" + l.path).distinct))
      })

  /** The backfill; its rows are the input rows of its micro-batches. Its
    * jobs run in the stream's own job group, the run id, which the op
    * record carries so the traced run can tie them to the op. */
  private def streamOp(spark: SparkSession): Op =
    Op(StreamFeed.stripSuffix(".json"), "stream", () => {
      val q = StreamingRunner.run(spark, stream)
      val progress = q.recentProgress.toSeq
      Outcome(progress.map(_.numInputRows).sum, Seq(
        "run_id" -> q.runId.toString, "batches" -> progress.size))
    })

  /** Every feed target read back, and the stream's sink compared with the
    * batch evaluation of the same SQL over the same events, restricted to
    * the windows the final watermark has closed. */
  override def afterPass(spark: SparkSession, pass: Int): Seq[Check] =
    targets.map { case (fmt, rel) =>
      val path = out.resolve(rel).toString
      val df = if (fmt == "csv") spark.read.option("header", "true").csv(path)
               else spark.read.parquet(path)
      Check(rel, Workloads.digestOf(df), expected.get(rel))
    } :+ streamCheck(spark)

  private def streamCheck(spark: SparkSession): Check = {
    spark.read.parquet(stream.source.path).createOrReplaceTempView(stream.source.view)
    stream.transforms.foreach(t => spark.sql(t.sql.get).createOrReplaceTempView(t.view))
    val wm = stream.watermarks.head
    val batch = spark.sql(
      s"""SELECT * FROM ${stream.transforms.last.view}
         |WHERE ws + INTERVAL $StreamWindowMinutes MINUTES <=
         |  (SELECT MAX(${wm.column}) FROM ${wm.view}) - INTERVAL ${wm.delay}""".stripMargin)
    val got = spark.read.parquet(out.resolve(StreamTarget).resolve("data").toString)
    Check(s"stream:$StreamTarget", Workloads.digestOf(got), Some(Workloads.digestOf(batch)))
  }

  /** (files, bytes) of the data files under every target and the stream's
    * sink. */
  def stored(): (Long, Long) = {
    val files = (targets.map(_._2) :+ s"$StreamTarget/data").flatMap { rel =>
      val p = out.resolve(rel)
      if (!Files.exists(p)) Nil else {
        val s = Files.walk(p)
        try s.filter(f => Files.isRegularFile(f) && {
          val n = f.getFileName.toString; !n.startsWith(".") && !n.startsWith("_")
        }).toArray.toSeq.map(_.asInstanceOf[Path]) finally s.close()
      }
    }
    (files.size.toLong, files.map(Files.size).sum)
  }
}

object FeedWorkload {
  /** One-shot feeds from `examples/`: parquet and csv overwrite, compact,
    * z-order and SCD2. `statusJdbc` feeds are left out: their JDBC driver
    * is test-scope. */
  val exampleFeeds: Seq[String] = Seq(
    "pricing_summary_feed.json", "compact_maintenance_feed.json",
    "zorder_maintenance_feed.json", "scd2_dimension_feed.json")

  /** The streaming example, the directory of its time-ordered event files
    * under each scale factor's data, its sink, and its window length. */
  val StreamFeed = "hourly_events_stream.json"
  val StreamEvents = "stream_events"
  val StreamTarget = "hourly_events"
  val StreamWindowMinutes = 60

  /** Incremental feeds from `perfbench/feeds/` and their batch counts. */
  val chainFeeds: Seq[(String, Int)] = Seq("upsert_orders.json" -> 3, "rollup_lineitem.json" -> 2)

  /** Output directories (relative to the pass's output root) and formats. */
  val targets: Seq[(String, String)] = Seq(
    "parquet" -> "pricing_parquet", "csv" -> "pricing_csv",
    "parquet" -> "compact_target", "parquet" -> "lineitem_zordered",
    "parquet" -> "supplier_dim", "parquet" -> "orders_upserted",
    "parquet" -> "lineitem_rollup")
}
