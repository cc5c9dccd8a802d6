package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: sets up a session [[Setups]] times, warms the
  * JVM up with the workload's kind of work, then runs
  * whole passes of the workload's ops in a closed loop (one client, each
  * op waits for the previous one), as many as `--seconds` calls for, and
  * writes every set-up, op, pass and check to the result file `--out` as it
  * happens. With `--trace 1` the same passes run once more afterwards with
  * the bench's listeners ([[Tracer]]) attached, and their spans and
  * counters are written at the end. `perfbench/run.py` launches it and
  * turns the file into metrics.
  *
  * {{{
  * BenchMain --workload query-small --seed 1 --seconds 10 --trace 0
  *   --root <repo> --data <dir with sf0.001/ and sf0.1/> --work <dir>
  *   --out <result.jsonl>
  * }}}
  */
object BenchMain {

  /** A run makes `round(seconds / PassSeconds)` (at least one) times the
    * workload's `passesPerUnit` passes, so the amount of work in a run never
    * depends on how fast the program is. query-small's and feed-etl's
    * passes take about this long on 4 cores and run once per unit;
    * query-heavy's take about 8 s and run three times: its pass keeps all
    * cores busy, so the box's speed swings move a single pass most, and the
    * median of three, the first of which still pays most of the JIT
    * compilation left after the warm-up, is steadier. */
  val PassSeconds = 10.0

  /** Set-ups per run; `setup_s` is their median. The first is timed from
    * JVM start, the others repeat it in the warm JVM. */
  val Setups = 3

  private def cpuNanos: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def jvmCounters: Map[String, Double] = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
    Map(
      "gc_s" -> gc,
      "jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0,
      "classes_loaded" -> ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount.toDouble,
      "codegen_compile_s" -> org.apache.spark.sql.catalyst.expressions.codegen
        .CodeGenerator.compileTime / 1e9)
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val root = Paths.get(args("root"))
    val data = Paths.get(args("data"))
    val work = Paths.get(args("work"))
    val rec = new Records(args("out"))
    val nproc = Runtime.getRuntime.availableProcessors
    val expected = Expected.load(root.resolve("perfbench/expected"), workloadName)

    val small = data.resolve("sf0.001").toString
    val heavy = data.resolve("sf0.1").toString
    val workload: Workload = workloadName match {
      case "query-small" => new QueryWorkload(small, QuerySets.small, expected,
        QuerySets.smallWarmup)
      case "query-heavy" => new QueryWorkload(heavy, QuerySets.heavy, expected,
        QuerySets.heavy, passesPerUnit = 3)
      case "feed-etl" => new FeedWorkload(heavy, root.resolve("examples"),
        root.resolve("perfbench/feeds"), work.resolve("feeds"), expected)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    rec.emit("meta", "workload" -> workloadName, "seed" -> seed, "nproc" -> nproc,
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576, "spark" -> org.apache.spark.SPARK_VERSION,
      "java" -> System.getProperty("java.version"), "trace" -> trace, "seconds" -> seconds)

    // Set-up, Setups times; the first one is timed from JVM start.
    var spark: SparkSession = null
    (1 to Setups).foreach { i =>
      if (spark != null) spark.stop()
      val t0 = if (i == 1) ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
               else System.currentTimeMillis.toDouble
      val s0 = System.nanoTime()
      spark = graft.EtlSession.create(s"local[$nproc]", nproc, "perfbench")
      spark.sparkContext.setLogLevel("ERROR")
      val s1 = System.nanoTime()
      graft.Tables.register(spark, workload.sfDir)
      val s2 = System.nanoTime()
      workload.prepare(spark)
      val s3 = System.nanoTime()
      spark.sql("SELECT COUNT(*) FROM lineitem").collect()
      val s4 = System.nanoTime()
      val total = (System.currentTimeMillis - t0) / 1000.0
      rec.emit("setup", "i" -> i, "total_s" -> total, "jvm_start_s" -> (total - (s4 - s0) / 1e9),
        "session_create_s" -> (s1 - s0) / 1e9, "tables_register_s" -> (s2 - s1) / 1e9,
        "inputs_s" -> (s3 - s2) / 1e9, "warmup_s" -> (s4 - s3) / 1e9)
    }

    val warm0 = System.nanoTime()
    workload.warmup(spark)
    rec.emit("warmup", "wall_s" -> (System.nanoTime() - warm0) / 1e9)

    val sc = spark.sparkContext
    val passes = math.max(1, math.round(seconds / PassSeconds).toInt) * workload.passesPerUnit
    def runPass(pass: Int, traced: Boolean, rng: scala.util.Random): Unit = {
      workload.beforePass(spark, pass)
      val ops = workload.ops(spark, pass, rng)
      val jvm0 = jvmCounters
      val cpu0 = cpuNanos
      val w0 = System.nanoTime()
      var pausedNs, pausedCpuNs = 0L
      ops.zipWithIndex.foreach { case (op, i) =>
        val id = s"p$pass.$i"
        sc.setJobGroup(id, op.name, interruptOnCancel = false)
        val startMs = System.currentTimeMillis.toDouble
        val t0 = System.nanoTime()
        val result = scala.util.Try(op.run())
        val wall = (System.nanoTime() - t0) / 1e9
        val endMs = System.currentTimeMillis.toDouble
        sc.clearJobGroup()
        // the output check and the record are not part of the pass's time
        val (pause0, pauseCpu0) = (System.nanoTime(), cpuNanos)
        val check = result.toOption.flatMap(_.check).map(_())
        val error = result.failed.toOption.map(e => s"${e.getClass.getName}: ${e.getMessage}".take(300))
        error.foreach(e => System.err.println(s"[perfbench] ${op.name} failed: $e"))
        rec.emit("op", Seq("id" -> id, "pass" -> pass, "traced" -> traced, "name" -> op.name,
          "family" -> op.family, "start_ms" -> startMs, "end_ms" -> endMs, "wall_s" -> wall,
          "ok" -> (result.isSuccess && !check.exists(_.verdict == "mismatch")),
          "error" -> error, "rows" -> result.toOption.map(_.rows),
          "check" -> check.map(_.verdict), "digest" -> check.map(_.digest)) ++
          result.toOption.toSeq.flatMap(_.extra): _*)
        pausedNs += System.nanoTime() - pause0
        pausedCpuNs += cpuNanos - pauseCpu0
      }
      val wall = (System.nanoTime() - w0 - pausedNs) / 1e9
      val cpu = (cpuNanos - cpu0 - pausedCpuNs) / 1e9
      val jvm1 = jvmCounters
      val after = workload.afterPass(spark, pass)
      after.foreach { c =>
        rec.emit("check", "pass" -> pass, "traced" -> traced, "name" -> c.name, "verdict" -> c.verdict,
          "digest" -> c.digest, "expected" -> c.expected)
      }
      val stored = workload match {
        case f: FeedWorkload => f.stored()
        case _ => (0L, 0L)
      }
      rec.emit("pass", "pass" -> pass, "traced" -> traced, "wall_s" -> wall, "cpu_s" -> cpu,
        "ops" -> ops.size, "jvm" -> jvm1.map { case (k, v) => k -> (v - jvm0(k)) }, "files" -> stored._1,
        "stored_mb" -> stored._2 / 1048576.0)
    }

    // The untraced passes, then (--trace 1) the same passes again, in the
    // same op orders, with the listeners attached.
    (1 to passes).foreach(p => runPass(p, traced = false, new scala.util.Random(seed + p)))
    if (trace) {
      val tracer = new Tracer(spark)
      tracer.attach()
      (1 to passes).foreach(p => runPass(passes + p, traced = true, new scala.util.Random(seed + p)))
      tracer.detach()
      tracer.write(rec)
    }
    rec.emit("end", "passes" -> (if (trace) 2 * passes else passes), "rss_peak_mb" -> rssPeakMb)
    rec.close()
    spark.stop()
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  def rssPeakMb: Double = scala.util.Try {
    val line = java.nio.file.Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024.0
  }.getOrElse(0.0)
}
