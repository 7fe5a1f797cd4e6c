package layerbench

import java.nio.file.Files

import scala.collection.immutable.ArraySeq

import graft.core.{StreamStore, StreamWriter}
import graft.ingest.{IngestSettings, Ingester}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A closed-loop record → analyze batch in the shape of river_benchmark.
  * Timed window: each request writes one chunk of seeded ephys samples
  * to a raw and to a ZFP_LOSSLESS stream and reads it back from both.
  * Then a recording is ingested with one sweep, the writer stops, the
  * stream is finalized (compacted), and a fixed analysis runs over its
  * `data.parquet`. Never calls the operators layer. */
final class RecordAnalyze extends Workload {
  import RecordAnalyze._

  def generatorThreads: Int = 1
  private var gen: Ephys = _

  def generate(ctx: Ctx): Unit = gen = new Ephys(ctx.seed, ctx.scale.record.period)

  def warmUp(ctx: Ctx): Unit = {
    val sz = ctx.scale.record
    val store = new StreamStore(ctx.dir("warm-store"))
    val raw = new Pair(store, "warm", sz.chunk, gen)
    (0 until 40).foreach(_ => raw.request())
    raw.close()
    val ing = new Ingester(ctx.spark, store.root, ctx.dir("warm-parquet"))
    val w = store.createStream("warm-rec", Ephys.schema)
    writeRecording(w, sz.warmSamples, sz.chunk, gen, None)
    ing.ingestOnce("warm-rec")
    scan(ctx.spark, store, "warm-rec").agg(expr(Ephys.checksumSql)).head()
    w.stop()
    while (store.streamExists("warm-rec")) ing.ingestOnce("warm-rec")
    analyze(ctx.spark, ctx.scratch.resolve("warm-parquet").resolve("warm-rec")
      .resolve("data.parquet").toString, thresholds(gen), ctx.tracer)
  }

  def run(ctx: Ctx, out: Outcome): Unit = {
    val sz = ctx.scale.record
    val tr = ctx.tracer
    val spark = ctx.spark
    val store = new StreamStore(ctx.dir("store"))

    // timed window: chunk round trips through a raw and a ZFP stream
    val reqNs = new Hist
    val totals = new Totals
    var pairNo = 0
    var pair = new Pair(store, s"rt$pairNo", sz.chunk, gen)
    val end = System.nanoTime() + ctx.seconds * 1000000000L
    var requests = 0L
    while (System.nanoTime() < end) {
      val t = System.nanoTime()
      pair.request()
      reqNs.add(System.nanoTime() - t)
      requests += 1
      if (pair.chunks == sz.chunksPerStream) {
        pair.close(); totals.add(pair)
        pairNo += 1; pair = new Pair(store, s"rt$pairNo", sz.chunk, gen)
      }
    }
    pair.close(); totals.add(pair)
    out.ops(requests * 4)
    out.check("record.raw_roundtrip_exact", totals.rawBad == 0, s"${totals.rawBad} raw samples differ")
    out.check("record.zfp_roundtrip_exact", totals.zfpBad == 0, s"${totals.zfpBad} ZFP samples differ")

    // the recording: write, one ingest sweep, connector scan, stop,
    // finalize, analysis
    val name = "rec"
    val n = sz.recordSamples
    val outRoot = ctx.dir("parquet")
    val ing = new Ingester(spark, store.root, outRoot, IngestSettings())
    val w = tr.span("core", "createStream")(store.createStream(name, Ephys.schema))
    val corrupt = if (ctx.inject == "corrupt_value") Some(n / 3) else None
    val writtenAt = tr.span("core", "writeRecording")(writeRecording(w, n, sz.chunk, gen, corrupt))
    val ts = System.nanoTime()
    val swept = tr.span("ingest", "ingestOnce")(ing.ingestOnce(name))
    val sweepEnd = System.nanoTime()
    val sweepS = (sweepEnd - ts) / 1e9
    val lagS = writtenAt.take(math.min(swept, n).toInt).map(t => (sweepEnd - t) / 1e9)

    val tsc = System.nanoTime()
    val scanDf = tr.span("connector", "load")(scan(spark, store, name))
    val splits = scanDf.rdd.getNumPartitions
    val scanRow = tr.span("connector", "scan")(scanDf.agg(count(lit(1)), expr(Ephys.checksumSql)).head())
    val scanS = (System.nanoTime() - tsc) / 1e9
    out.check("record.connector_rows", scanRow.getLong(0) == n, s"scan saw ${scanRow.getLong(0)} of $n")
    out.check("record.connector_checksum", scanRow.getLong(1) == gen.checksum(n), "scan checksum differs")

    val tStop = System.nanoTime()
    tr.span("core", "stop")(w.stop())
    val tf = System.nanoTime()
    var calls = 1
    while (store.streamExists(name) && calls < 20) {
      tr.span("ingest", "ingestOnce")(ing.ingestOnce(name)); calls += 1
    }
    val finalizeS = (System.nanoTime() - tf) / 1e9
    val data = outRoot.resolve(name).resolve("data.parquet")
    out.ops(calls)
    out.check("record.completed", Files.exists(data) && !store.streamExists(name), "stream not finalized")
    val ta = System.nanoTime()
    val got = tr.span("analyze", "analysis")(analyze(spark, data.toString, thresholds(gen), tr))
    val analyzeS = (System.nanoTime() - ta) / 1e9
    val want = expected(gen, n, thresholds(gen))
    val right = got.compare(want, out)
    val eofToResult = (System.nanoTime() - tStop) / 1e9

    val userBytes = n.toDouble * Ephys.SampleBytes
    val parquetBytes = dirBytes(data)
    out.e2e("latency_p50_ms") = reqNs.pct(0.5) / 1e6
    out.e2e("durable_lag_p50_s") = Stats.pctD(lagS.toSeq, 0.5)
    out.e2e("durable_s") = eofToResult
    out.e2e("bytes_per_user_byte") = parquetBytes / userBytes
    out.e2e("answer_recall") = right

    val l = out.layer
    def mbS(bytes: Long, ns: Long) = if (ns == 0) 0.0 else bytes / 1e6 / (ns / 1e9)
    l("write_mb_s") = mbS(totals.userBytes, totals.rawWriteNs)
    l("read_mb_s") = mbS(totals.userBytes, totals.rawReadNs)
    l("zfp_write_mb_s") = mbS(totals.userBytes, totals.zfpWriteNs)
    l("zfp_read_mb_s") = mbS(totals.userBytes, totals.zfpReadNs)
    l("eof_to_result_s") = eofToResult
    l("parquet_bytes_per_user_byte") = parquetBytes / userBytes
    l("core.write_call_p50_us") = totals.writeCall.pct(0.5) / 1e3
    l("core.write_call_p99_us") = totals.writeCall.pct(0.99) / 1e3
    l("core.write_calls") = totals.writeCall.count
    l("core.read_calls") = totals.readCalls
    l("core.read_empty_frac") = totals.emptyReads.toDouble / math.max(1, totals.readCalls)
    l("core.stored_bytes_per_user_byte") = totals.rawStored.toDouble / totals.userBytes
    l("core.zfp_bytes_ratio") = totals.zfpStored.toDouble / totals.userBytes
    l("core.zfp_busy_s") = (totals.zfpWriteNs + totals.zfpReadNs) / 1e9
    l("connector.scan_s") = scanS
    l("connector.scan_mb_s") = userBytes / 1e6 / scanS
    l("connector.splits") = splits
    l("ingest.calls") = calls
    l("ingest.call_p50_s") = sweepS
    l("ingest.call_max_s") = math.max(sweepS, finalizeS)
    l("ingest.backlog_rows_max") = n
    l("ingest.rows_per_busy_s") = swept / sweepS
    l("ingest.finalize_s") = finalizeS
    l("ingest.parts") = 1
    l("analyze.s") = analyzeS
    l("analyze.files_read") = got.filesRead
  }
}

object RecordAnalyze {
  /** `chunk` samples per request; streams rotate every `chunksPerStream`
    * requests so the window's disk footprint stays bounded. */
  final case class Size(chunk: Int, chunksPerStream: Int, recordSamples: Long, period: Int,
      warmSamples: Long)
  object Size {
    val Full = Size(chunk = 1024, chunksPerStream = 64, recordSamples = 50000,
      period = 1 << 17, warmSamples = 5000)
    val Tiny = Size(chunk = 128, chunksPerStream = 8, recordSamples = 4000,
      period = 4096, warmSamples = 1000)
  }

  /** `sample_index` values per OHLC bar. */
  val OhlcBucket = 1000

  /** Per-channel threshold for crossing counts: half the channel's peak. */
  def thresholds(g: Ephys): Array[Int] = Array.tabulate(Ephys.Channels) { c =>
    var m = 0; var i = 0
    while (i < g.period) { m = math.max(m, math.abs(g.value(i, c).toInt)); i += 1 }
    m / 2
  }

  final class Totals {
    var userBytes, rawWriteNs, rawReadNs, zfpWriteNs, zfpReadNs, rawStored, zfpStored = 0L
    var rawBad, zfpBad, readCalls, emptyReads = 0L
    val writeCall = new Hist
    def add(p: Pair): Unit = {
      userBytes += p.userBytes; rawWriteNs += p.raw.writeNs; rawReadNs += p.raw.readNs
      zfpWriteNs += p.zfp.writeNs; zfpReadNs += p.zfp.readNs
      rawStored += p.raw.stored; zfpStored += p.zfp.stored
      rawBad += p.raw.bad; zfpBad += p.zfp.bad
      readCalls += p.raw.readCalls + p.zfp.readCalls
      emptyReads += p.raw.emptyReads + p.zfp.emptyReads
      p.raw.writeCall.values.foreach(writeCall.add)
    }
  }

  /** One stream with its writer and reader, checking what it reads back. */
  final class Leg(store: StreamStore, name: String, zfp: Boolean, gen: Ephys) {
    private val w = store.createStream(name, Ephys.schema,
      compressionParamsJson = if (zfp) Some(Ephys.ZfpLossless) else None)
    private val r = store.openReader(name)
    private var next = 0L
    var writeNs, readNs, bad, stored, readCalls, emptyReads = 0L
    val writeCall = new Hist

    def roundTrip(chunk: Int): Unit = {
      val batch = ArraySeq.tabulate(chunk)(j => gen.payload(next + j))
      val t0 = System.nanoTime()
      w.writeBytes(batch)
      val t1 = System.nanoTime()
      var got = 0
      while (got < chunk) {
        val xs = r.readBytes(chunk - got, 1000).getOrElse(sys.error(s"$name: early EOF"))
        readCalls += 1
        if (xs.isEmpty) emptyReads += 1
        xs.foreach { x => if (!java.util.Arrays.equals(x, gen.payload(next + got))) bad += 1; got += 1 }
      }
      val t2 = System.nanoTime()
      writeNs += t1 - t0; readNs += t2 - t1
      writeCall.add(t1 - t0)
      next += chunk
    }

    def close(): Unit = {
      w.stop()
      stored = store.segments(name).map(s => store.segmentFile(name, s).length()).sum
      store.deleteStream(name)
    }
  }

  /** A raw and a ZFP_LOSSLESS stream fed the same chunks. */
  final class Pair(store: StreamStore, name: String, chunk: Int, gen: Ephys) {
    val raw = new Leg(store, s"$name-raw", false, gen)
    val zfp = new Leg(store, s"$name-zfp", true, gen)
    var chunks = 0
    def request(): Unit = { raw.roundTrip(chunk); zfp.roundTrip(chunk); chunks += 1 }
    def userBytes: Long = chunks.toLong * chunk * Ephys.SampleBytes
    def close(): Unit = { raw.close(); zfp.close() }
  }

  /** Write `n` samples in chunks; returns each sample's write-return time.
    * `corrupt` flips one sample's first channel (a fault the analysis
    * checks must catch). */
  def writeRecording(w: StreamWriter, n: Long, chunk: Int, gen: Ephys,
      corrupt: Option[Long]): Array[Long] = {
    val at = new Array[Long](n.toInt)
    var i = 0L
    while (i < n) {
      val m = math.min(chunk.toLong, n - i).toInt
      val batch = ArraySeq.tabulate(m) { j =>
        val p = gen.payload(i + j)
        if (corrupt.contains(i + j)) { val q = p.clone(); q(0) = (q(0) ^ 0x55).toByte; q } else p
      }
      w.writeBytes(batch)
      java.util.Arrays.fill(at, i.toInt, (i + m).toInt, System.nanoTime())
      i += m
    }
    at
  }

  def scan(spark: SparkSession, store: StreamStore, name: String): DataFrame =
    spark.read.format("river").option("root", store.root.toString).option("stream", name).load()

  /** The fixed analysis: per-channel min/max/sum/sum of squares, OHLC of
    * channel 0 per 1000 sample_index values, upward threshold crossings
    * per channel. */
  final case class Answers(stats: Map[String, Seq[Long]], ohlc: Map[Long, Seq[Long]],
      crossings: Map[String, Long], filesRead: Long) {
    /** Record one check per answer group; returns the fraction of answer
      * values equal to `want`'s. */
    def compare(want: Answers, out: Outcome): Double = {
      def frac[K](a: Map[K, Any], b: Map[K, Any]) = b.count { case (k, v) => a.get(k).contains(v) }
      val goodStats = frac(stats, want.stats)
      val goodOhlc = frac(ohlc, want.ohlc)
      val goodCross = frac(crossings, want.crossings)
      out.check("analyze.channel_stats", goodStats == want.stats.size && stats.size == want.stats.size,
        s"${want.stats.size - goodStats} channels differ")
      out.check("analyze.ohlc", goodOhlc == want.ohlc.size && ohlc.size == want.ohlc.size,
        s"${want.ohlc.size - goodOhlc} OHLC buckets differ")
      out.check("analyze.crossings", goodCross == want.crossings.size,
        s"${want.crossings.size - goodCross} crossing counts differ")
      val total = want.stats.size + want.ohlc.size + want.crossings.size
      (goodStats + goodOhlc + goodCross).toDouble / total
    }
  }

  def analyze(spark: SparkSession, path: String, thr: Array[Int], tr: Tracer): Answers = {
    val df = spark.read.parquet(path)
    val files = df.inputFiles.length
    val chans = (0 until Ephys.Channels).map(Ephys.col)
    val statCols = chans.flatMap { c =>
      val v = col(c).cast("long")
      Seq(min(v), max(v), sum(v), sum(v * v))
    }
    val statRow = tr.span("analyze", "channel_stats")(df.agg(statCols.head, statCols.tail: _*).head())
    val stats = chans.zipWithIndex.map { case (c, i) =>
      c -> (0 until 4).map(j => statRow.getLong(i * 4 + j))
    }.toMap
    val v0 = col(Ephys.col(0)).cast("long")
    val ohlc = tr.span("analyze", "ohlc")(df.groupBy(floor(col("sample_index") / OhlcBucket).as("bucket"))
      .agg(min_by(v0, col("sample_index")), max(v0), min(v0), max_by(v0, col("sample_index")))
      .collect()).map(r => r.getLong(0) -> Seq(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val byIndex = Window.orderBy("sample_index")
    val crossed = tr.span("analyze", "crossings")(df.select(chans.zipWithIndex.map { case (c, i) =>
      (lag(col(c), 1).over(byIndex) < thr(i) && col(c) >= thr(i)).cast("long").as(c)
    }: _*).agg(sum(col(chans.head)), chans.tail.map(c => sum(col(c))): _*).head())
    val crossings = chans.zipWithIndex.map { case (c, i) =>
      c -> (if (crossed.isNullAt(i)) 0L else crossed.getLong(i))
    }.toMap
    Answers(stats, ohlc, crossings, files)
  }

  /** The same answers, computed from the generator. */
  def expected(g: Ephys, n: Long, thr: Array[Int]): Answers = {
    val stats = (0 until Ephys.Channels).map { c =>
      var mn = Long.MaxValue; var mx = Long.MinValue; var s = 0L; var s2 = 0L; var i = 0L
      while (i < n) {
        val v = g.value(i, c).toLong
        mn = math.min(mn, v); mx = math.max(mx, v); s += v; s2 += v * v; i += 1
      }
      Ephys.col(c) -> Seq(mn, mx, s, s2)
    }.toMap
    val ohlc = (0L until (n + OhlcBucket - 1) / OhlcBucket).map { b =>
      val vs = (b * OhlcBucket until math.min(n, (b + 1) * OhlcBucket)).map(i => g.value(i, 0).toLong)
      b -> Seq(vs.head, vs.max, vs.min, vs.last)
    }.toMap
    val crossings = (0 until Ephys.Channels).map { c =>
      var k = 0L; var i = 1L
      while (i < n) {
        if (g.value(i - 1, c) < thr(c) && g.value(i, c) >= thr(c)) k += 1
        i += 1
      }
      Ephys.col(c) -> k
    }.toMap
    Answers(stats, ohlc, crossings, 0)
  }
}
