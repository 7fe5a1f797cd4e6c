package layerbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Sizes of one workload run. `Full` is what the benchmark measures;
  * `Tiny` lets the benchmark's own tests run every check in seconds. */
final case class Scale(name: String, live: LiveTail.Size, record: RecordAnalyze.Size,
    index: IndexLifecycle.Size)

object Scale {
  val Full = Scale("full", LiveTail.Size.Full, RecordAnalyze.Size.Full, IndexLifecycle.Size.Full)
  val Tiny = Scale("tiny", LiveTail.Size.Tiny, RecordAnalyze.Size.Tiny, IndexLifecycle.Size.Tiny)
}

/** Everything a workload needs for one run. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val scale: Scale, val inject: String, val tracer: Tracer, val scratch: Path) {
  def dir(name: String): Path = Files.createDirectories(scratch.resolve(name))
}

/** What a run measured and checked. */
final class Outcome {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  /** Count `n` operations, `bad` of which failed. */
  def ops(n: Long, bad: Long = 0): Unit = { attempted += n; failed += bad }

  /** One correctness check; a failed one counts as a failed operation. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += s"$name: $detail" }
  }
}

trait Workload {
  /** Slots the load generator keeps for itself; Spark gets the rest. */
  def generatorThreads: Int
  /** Build the seeded inputs (timed three times; the median is charged
    * to set-up). */
  def generate(ctx: Ctx): Unit
  /** Untimed first calls into every layer the run uses (JIT, Spark
    * codegen, class loading), charged to set-up. */
  def warmUp(ctx: Ctx): Unit
  def run(ctx: Ctx, out: Outcome): Unit
}

object Main {
  /** The end-to-end metrics every untraced run reports, with units. */
  val EndToEnd = Seq("setup_s" -> "s", "latency_p50_ms" -> "ms", "durable_lag_p50_s" -> "s",
    "durable_s" -> "s", "bytes_per_user_byte" -> "ratio", "answer_recall" -> "fraction")

  private def usage(msg: String): Nothing = {
    System.err.println(s"layerbench: $msg")
    System.err.println("usage: --workload live_tail|record_analyze|index_lifecycle " +
      "--seed N --seconds S --trace 0|1 --scratch DIR --state DIR [--scale full|tiny] [--inject FAULT]")
    sys.exit(2)
  }

  /** p95 of Thread.sleep(1) and of parkNanos(50 us), in ms: a run taken
    * while the host's timers are degraded can be told apart. */
  def hostProbe(): (Double, Double) = {
    val n = 200
    val sl = Array.fill(n) { val t = System.nanoTime(); Thread.sleep(1); System.nanoTime() - t }
    val pk = Array.fill(n) {
      val t = System.nanoTime()
      java.util.concurrent.locks.LockSupport.parkNanos(50000)
      System.nanoTime() - t
    }
    (Stats.pct(sl, 0.95) / 1e6, Stats.pct(pk, 0.95) / 1e6)
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def arg(k: String) = args.getOrElse(k, usage(s"missing --$k"))
    val wlName = arg("workload")
    val seed = scala.util.Try(arg("seed").toLong).getOrElse(usage("--seed must be an integer"))
    val seconds = scala.util.Try(arg("seconds").toInt).toOption.filter(_ >= 1)
      .getOrElse(usage("--seconds must be a positive integer"))
    val traced = arg("trace") match {
      case "0" => false
      case "1" => true
      case _ => usage("--trace must be 0 or 1")
    }
    val scratch = Paths.get(arg("scratch"))
    val state = Paths.get(arg("state"))
    val scale = args.getOrElse("scale", "full") match {
      case "full" => Scale.Full
      case "tiny" => Scale.Tiny
      case s => usage(s"unknown scale $s")
    }
    val inject = args.getOrElse("inject", "none")
    val workload: Workload = wlName match {
      case "live_tail" => new LiveTail
      case "record_analyze" => new RecordAnalyze
      case "index_lifecycle" => new IndexLifecycle
      case w => usage(s"unknown workload $w")
    }
    require(Files.isDirectory(scratch) && Files.isWritable(scratch),
      s"scratch dir $scratch is not a writable directory")

    val (sl95Pre, pk95Pre) = hostProbe()
    val cores = Runtime.getRuntime.availableProcessors()
    val slots = math.max(1, cores - workload.generatorThreads)
    val master = s"local[$slots]"
    val spark = SparkSession.builder()
      .master(master)
      .appName(s"layerbench-$wlName")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", Files.createDirectories(scratch.resolve("spark-local")).toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", scratch.resolve("hadoop").toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("ERROR")
      val runId = s"$wlName-seed$seed-${if (traced) "traced" else "untraced"}-${System.currentTimeMillis()}"
      val tracer = new Tracer(traced, runId, spark.sparkContext)
      val ctx = new Ctx(spark, seed, seconds, scale, inject, tracer, scratch)
      val warmCtx = new Ctx(spark, seed, seconds, scale, inject,
        new Tracer(false, runId, spark.sparkContext), scratch)
      val sparkReady = System.currentTimeMillis()
      val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
      val genS = (1 to 3).map { _ =>
        val t = System.nanoTime(); workload.generate(warmCtx); (System.nanoTime() - t) / 1e9
      }
      val tw = System.nanoTime()
      workload.warmUp(warmCtx)
      val warmS = (System.nanoTime() - tw) / 1e9
      val out = new Outcome
      out.e2e("setup_s") = (sparkReady - jvmStart) / 1e3 + Stats.median(genS) + warmS
      workload.run(ctx, out)
      val (sl95Post, pk95Post) = hostProbe()

      val info = Json.obj(Seq(
        "run_id" -> Json.str(runId), "workload" -> Json.str(wlName),
        "seed" -> seed.toString, "seconds" -> seconds.toString, "scale" -> Json.str(scale.name),
        "traced" -> traced.toString, "inject" -> Json.str(inject),
        "scratch_root" -> Json.str(scratch.getParent.toString),
        "scratch_fs" -> Json.str(Files.getFileStore(scratch).`type`()),
        "heap_max_bytes" -> Runtime.getRuntime.maxMemory.toString,
        "cores" -> cores.toString, "spark_master" -> Json.str(master),
        "host_probe_pre" -> Json.obj(Seq("sleep1_p95_ms" -> Json.num(sl95Pre), "park50us_p95_ms" -> Json.num(pk95Pre))),
        "host_probe_post" -> Json.obj(Seq("sleep1_p95_ms" -> Json.num(sl95Post), "park50us_p95_ms" -> Json.num(pk95Post))),
        "setup" -> Json.obj(Seq("spark_s" -> Json.num((sparkReady - jvmStart) / 1e3),
          "generate_s_median" -> Json.num(Stats.median(genS)), "warm_up_s" -> Json.num(warmS))),
        "failures" -> out.failures.map(Json.str).mkString("[", ",", "]"),
        "end_to_end" -> Json.obj(out.e2e.toSeq.map { case (k, v) => k -> Json.num(v) })))
      println(info)
      out.failures.foreach(f => System.err.println(s"layerbench: check failed: $f"))

      val history = state.resolve("history").resolve(s"$wlName.jsonl")
      val metrics: Seq[(String, Double, String)] =
        if (!traced) {
          EndToEnd.foreach { case (k, _) => require(out.e2e.get(k).exists(v => !v.isNaN),
            s"workload $wlName did not measure $k") }
          Files.createDirectories(history.getParent)
          Files.write(history, (Json.obj(out.e2e.toSeq.map { case (k, v) => k -> Json.num(v) }) + "\n")
            .getBytes("UTF-8"), java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.APPEND)
          EndToEnd.map { case (k, u) => (k, out.e2e(k), u) }
        } else {
          tracer.writeSpans(state.resolve("traces").resolve(s"$runId.jsonl"))
          val layer = out.layer
          tracer.selfSeconds.foreach { case (l, s) => layer(s"$l.self_s") = s }
          Seq("connector", "ingest", "analyze", "ann").foreach { l =>
            tracer.sparkByLayer(l).foreach { case (k, v) => layer(s"spark.$l.$k") = v }
          }
          layer("host.sleep1_p95_ms_pre") = sl95Pre
          layer("host.sleep1_p95_ms_post") = sl95Post
          layer("host.park50us_p95_ms_pre") = pk95Pre
          layer("host.park50us_p95_ms_post") = pk95Post
          layer("failed_frac") = out.failed.toDouble / math.max(1, out.attempted)
          layer("trace.spans") = tracer.spanCount
          layer("trace.overhead_frac") = Overhead.frac(history, out.e2e)
          Units.PerLayer.map { case (k, u) =>
            (k, layer.get(k).filterNot(_.isNaN).getOrElse(0.0), u)
          }
        }
      val ms = metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }
      println(Json.obj(Seq(
        "correct" -> (out.failed == 0).toString,
        "attempted" -> out.attempted.toString,
        "failed" -> out.failed.toString,
        "metrics" -> Json.obj(ms))))
    } finally spark.stop()
  }
}

/** Tracing overhead: the traced run's time-valued end-to-end metrics
  * against the median of the untraced runs of the same workload in this
  * checkout, as the mean relative change (0 when no untraced run exists). */
object Overhead {
  private val Num = """"([a-z0-9_]+)":(-?[0-9.eE+-]+)""".r

  def frac(history: Path, traced: collection.Map[String, Double]): Double = {
    if (!Files.exists(history)) return 0.0
    val rows = new String(Files.readAllBytes(history), "UTF-8").split("\n").toSeq
      .filter(_.nonEmpty).map(l => Num.findAllMatchIn(l).map(m => m.group(1) -> m.group(2).toDouble).toMap)
    val keys = Seq("latency_p50_ms", "durable_lag_p50_s", "durable_s")
    val rel = keys.flatMap { k =>
      val base = Stats.median(rows.flatMap(_.get(k)))
      traced.get(k).filter(_ => !base.isNaN && base > 0).map(v => v / base - 1)
    }
    if (rel.isEmpty) 0.0 else rel.sum / rel.size
  }
}

object Units {
  private def u(k: String, unit: String = ""): (String, String) =
    k -> (if (unit.nonEmpty) unit else k match {
      case _ if k.endsWith("_mb_s") => "MB/s"
      case _ if k.endsWith("_ms") || k.endsWith("_ms_pre") || k.endsWith("_ms_post") => "ms"
      case _ if k.endsWith("_us") => "us"
      case _ if k.endsWith("_s") => "s"
      case _ if k.endsWith("bytes") => "bytes"
      case _ => "count"
    })

  /** Every per-layer metric a traced run reports, in output order. */
  val PerLayer: Seq[(String, String)] = Seq(
    // the workload-specific end-to-end figures, from the traced run
    u("read_latency_p50_ms"), u("read_latency_p99_ms"), u("persist_lag_p50_s"),
    u("persist_lag_p99_s"), u("finalize_s"), u("gen.late_p99_ms"),
    u("write_mb_s"), u("read_mb_s"), u("zfp_write_mb_s"), u("zfp_read_mb_s"),
    u("eof_to_result_s"), u("parquet_bytes_per_user_byte", "ratio"),
    u("index_update_s"), u("serve_p50_s"), u("serve_batches"), u("serve_queries_per_batch"),
    u("recall_at_10", "fraction"), u("failed_frac", "fraction"),
    // core: transport
    u("core.write_call_p50_us"), u("core.write_call_p99_us"), u("core.write_calls"),
    u("core.read_calls"), u("core.read_empty_frac", "fraction"),
    u("core.stored_bytes_per_user_byte", "ratio"), u("core.zfp_bytes_ratio", "ratio"),
    u("core.zfp_busy_s"), u("core.self_s"),
    // connector
    u("connector.scan_s"), u("connector.scan_mb_s"), u("connector.splits"), u("connector.self_s"),
    // ingest
    u("ingest.calls"), u("ingest.empty_call_s"), u("ingest.call_p50_s"), u("ingest.call_max_s"),
    u("ingest.backlog_rows_max", "rows"), u("ingest.segments_max"), u("ingest.trimmed_segments"),
    u("ingest.rows_per_busy_s", "rows/s"), u("ingest.finalize_s"), u("ingest.parts"),
    u("ingest.self_s"),
    // analysis over the ingested Parquet
    u("analyze.s"), u("analyze.files_read"), u("analyze.self_s"),
    // operators: durable IVF-PQ index
    u("ann.build_s"), u("ann.append_s"), u("ann.delete_s"), u("ann.compact_s"), u("ann.serve_s"),
    u("ann.index_bytes"), u("ann.compact_bytes_rewritten", "bytes"), u("ann.self_s"),
    // Spark work per layer, from the benchmark's listener
    u("spark.connector.jobs"), u("spark.connector.tasks"), u("spark.connector.shuffle_bytes"),
    u("spark.connector.output_bytes"),
    u("spark.ingest.jobs"), u("spark.ingest.tasks"), u("spark.ingest.shuffle_bytes"),
    u("spark.ingest.output_bytes"),
    u("spark.analyze.jobs"), u("spark.analyze.tasks"), u("spark.analyze.shuffle_bytes"),
    u("spark.analyze.output_bytes"),
    u("spark.ann.jobs"), u("spark.ann.tasks"), u("spark.ann.shuffle_bytes"),
    u("spark.ann.output_bytes"),
    // host timer probe around the run, and the tracer itself
    u("host.sleep1_p95_ms_pre"), u("host.sleep1_p95_ms_post"),
    u("host.park50us_p95_ms_pre"), u("host.park50us_p95_ms_post"),
    u("trace.spans"), u("trace.overhead_frac", "fraction"))
}
