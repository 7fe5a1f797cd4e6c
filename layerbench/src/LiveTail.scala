package layerbench

import java.nio.file.{Files, Path}
import java.util.concurrent.locks.LockSupport

import scala.collection.immutable.ArraySeq

import graft.core.StreamStore
import graft.ingest.{IngestSettings, Ingester}
import org.apache.spark.sql.functions._

/** river's deployment shape as an open loop: one paced writer, one tail
  * reader, and the ingester calling `ingestOnce` back to back on the
  * remaining cores, with small segments and a low trim age so rollover
  * and trim both happen. Never calls the operators layer. */
final class LiveTail extends Workload {
  import LiveTail._

  def generatorThreads: Int = 2
  private var gen: Ephys = _
  private var emptyCallS = Double.NaN

  def generate(ctx: Ctx): Unit = gen = new Ephys(ctx.seed, ctx.scale.live.period)

  def warmUp(ctx: Ctx): Unit = {
    val sz = ctx.scale.live
    val store = new StreamStore(ctx.dir("warm-store"))
    val ing = new Ingester(ctx.spark, store.root, ctx.dir("warm-parquet"),
      IngestSettings(minAgeMsBeforeTrim = 0))
    val w = store.createStream("warm", Ephys.schema, keysPerSegment = sz.keysPerSegment)
    val r = store.openReader("warm")
    var i = 0L
    def write(n: Int): Unit = (0 until n / sz.batch).foreach { _ =>
      w.writeBytes(ArraySeq.tabulate(sz.batch)(j => gen.payload(i + j))); i += sz.batch
      r.readBytes(sz.batch, 100)
    }
    write(sz.warmSamples)
    ing.ingestOnce("warm")
    write(sz.warmSamples)
    ing.ingestOnce("warm")
    val t = System.nanoTime()
    ing.ingestOnce("warm")
    emptyCallS = (System.nanoTime() - t) / 1e9
    w.stop()
    while (store.streamExists("warm")) ing.ingestOnce("warm")
  }

  def run(ctx: Ctx, out: Outcome): Unit = {
    val sz = ctx.scale.live
    val tr = ctx.tracer
    val spark = ctx.spark
    val store = new StreamStore(ctx.dir("store"))
    val outRoot = ctx.dir("parquet")
    val ing = new Ingester(spark, store.root, outRoot,
      IngestSettings(minAgeMsBeforeTrim = sz.trimAgeMs))
    val name = "live"
    val w = tr.span("core", "createStream") {
      store.createStream(name, Ephys.schema, keysPerSegment = sz.keysPerSegment)
    }
    val batches = ctx.seconds * sz.batchHz
    val n = batches.toLong * sz.batch
    val periodNs = 1000000000L / sz.batchHz
    val dropAt = if (ctx.inject == "drop_sample") n / 2 else -1L
    val written = n - (if (dropAt >= 0) 1 else 0)

    val lateNs = new Array[Long](batches)
    val writeNs = new Hist
    val recvNs = new Array[Long](n.toInt)
    @volatile var writeErrors = 0L
    @volatile var received = 0L
    @volatile var intact = 0L
    @volatile var readCalls = 0L
    @volatile var emptyReads = 0L
    @volatile var readerError: Option[Throwable] = None
    val t0 = System.nanoTime() + 50000000L
    def due(sample: Long): Long = t0 + (sample / sz.batch) * periodNs

    val writer = new Thread(() => {
      var k = 0
      while (k < batches) {
        val d = t0 + k * periodNs
        var now = System.nanoTime()
        if (d - now > 200000L) LockSupport.parkNanos(d - now - 100000L)
        now = System.nanoTime()
        while (now < d) { Thread.onSpinWait(); now = System.nanoTime() }
        lateNs(k) = now - d
        val first = k.toLong * sz.batch
        val ids = (first until first + sz.batch).filter(_ != dropAt)
        val batch = ArraySeq.from(ids.map(gen.payload))
        val tc = System.nanoTime()
        try w.writeBytes(batch)
        catch { case _: Throwable => writeErrors += 1 }
        if (tr.on) writeNs.add(System.nanoTime() - tc)
        k += 1
      }
    }, "layerbench-writer")

    val reader = new Thread(() => {
      try {
        val r = store.openReader(name, 5000)
        var i = 0L
        var done = false
        while (!done) {
          r.readBytes(sz.batch, 200) match {
            case None => done = true
            case Some(xs) =>
              val now = System.nanoTime()
              readCalls += 1
              if (xs.isEmpty) emptyReads += 1
              xs.foreach { x =>
                if (i < n) {
                  recvNs(i.toInt) = now - due(i)
                  if (java.util.Arrays.equals(x, gen.payload(i))) intact += 1
                }
                i += 1
              }
              received = i
          }
        }
      } catch { case e: Throwable => readerError = Some(e) }
    }, "layerbench-reader")

    writer.start(); reader.start()
    val end = t0 + ctx.seconds * 1000000000L
    val lagS = new Array[Double](n.toInt)
    var persisted = 0L
    val callS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var busyS = 0.0
    var backlogMax = 0L
    var segmentsMax = 0
    val segmentsSeen = scala.collection.mutable.Set.empty[Long]
    var ingestErrors = 0L
    def ingestCall(): Double = {
      val segs = store.segments(name)
      segmentsSeen ++= segs
      segmentsMax = math.max(segmentsMax, segs.size)
      backlogMax = math.max(backlogMax, w.totalWritten - persisted)
      val tc = System.nanoTime()
      val rows = try tr.span("ingest", "ingestOnce")(ing.ingestOnce(name))
        catch { case _: Throwable => ingestErrors += 1; 0L }
      val tr1 = System.nanoTime()
      var i = persisted
      while (i < math.min(persisted + rows, n)) { lagS(i.toInt) = (tr1 - due(i)) / 1e9; i += 1 }
      persisted += rows
      val s = (tr1 - tc) / 1e9
      busyS += s
      s
    }
    while (System.nanoTime() < end) callS += ingestCall()
    writer.join()
    // one catch-up sweep, so the stop below finds only the EOF to persist
    // and finalize times completion rather than the loop's phase at the end
    callS += ingestCall()
    val liveSegs = store.segments(name)
    val firstStart = liveSegs.headOption.flatMap(s => store.segmentStartIndex(name, s)).getOrElse(0L)
    val segBytes = liveSegs.map(s => store.segmentFile(name, s).length()).sum
    val trimmed = (segmentsSeen -- liveSegs).size
    val parts = Option(outRoot.resolve(name).toFile.listFiles()).getOrElse(Array.empty)
      .count(f => f.getName.startsWith("data_") && f.getName.endsWith(".parquet"))

    val tStop = System.nanoTime()
    tr.span("core", "stop")(w.stop())
    var lastCallS = 0.0
    var guard = 0
    while (store.streamExists(name) && guard < 50) { lastCallS = ingestCall(); guard += 1 }
    val finalizeS = (System.nanoTime() - tStop) / 1e9
    reader.join(30000)

    // correctness: the reader saw every sample once, in order, intact; the
    // Parquet holds every sample exactly once with the payload intact
    out.ops(batches + callS.size + guard, writeErrors + ingestErrors)
    out.check("live.reader_error", readerError.isEmpty, readerError.map(_.toString).getOrElse(""))
    out.check("live.reader_count", received == n, s"reader saw $received of $n samples")
    out.check("live.reader_intact", intact == n, s"${n - intact} samples out of order or corrupt")
    out.check("live.completed", !store.streamExists(name), "stream did not complete")
    val data = outRoot.resolve(name).resolve("data.parquet")
    val ok = Files.exists(data)
    out.check("live.parquet_exists", ok, s"$data missing")
    if (ok) {
      val row = tr.span("check", "parquet")(spark.read.parquet(data.toString)
        .agg(count(lit(1)), min("sample_index"), max("sample_index"),
          countDistinct("sample_index"), expr(Ephys.checksumSql)).head())
      out.check("live.parquet_rows", row.getLong(0) == n, s"${row.getLong(0)} rows, expected $n")
      out.check("live.parquet_contiguous", row.getLong(1) == 0 && row.getLong(2) == n - 1 &&
        row.getLong(3) == row.getLong(0), s"sample_index ${row.getLong(1)}..${row.getLong(2)}, " +
        s"${row.getLong(3)} distinct")
      out.check("live.parquet_checksum", row.getLong(4) == gen.checksum(n),
        s"checksum ${row.getLong(4)} != ${gen.checksum(n)}")
    }

    val recv = recvNs.take(math.min(received, n).toInt)
    val lags = lagS.take(math.min(persisted, n).toInt).toSeq
    val userBytes = n.toDouble * Ephys.SampleBytes
    val parquetBytes = if (ok) dirBytes(data) else 0L
    out.e2e("latency_p50_ms") = Stats.pct(recv, 0.5) / 1e6
    out.e2e("durable_lag_p50_s") = Stats.pctD(lags, 0.5)
    out.e2e("durable_s") = finalizeS
    out.e2e("bytes_per_user_byte") = parquetBytes / userBytes
    out.e2e("answer_recall") = intact.toDouble / n

    val l = out.layer
    l("read_latency_p50_ms") = Stats.pct(recv, 0.5) / 1e6
    l("read_latency_p99_ms") = Stats.pct(recv, 0.99) / 1e6
    l("persist_lag_p50_s") = Stats.pctD(lags, 0.5)
    l("persist_lag_p99_s") = Stats.pctD(lags, 0.99)
    l("finalize_s") = finalizeS
    l("gen.late_p99_ms") = Stats.pct(lateNs, 0.99) / 1e6
    l("parquet_bytes_per_user_byte") = parquetBytes / userBytes
    l("core.write_call_p50_us") = writeNs.pct(0.5) / 1e3
    l("core.write_call_p99_us") = writeNs.pct(0.99) / 1e3
    l("core.write_calls") = batches
    l("core.read_calls") = readCalls
    l("core.read_empty_frac") = emptyReads.toDouble / math.max(1, readCalls)
    l("core.stored_bytes_per_user_byte") =
      segBytes / (Ephys.SampleBytes.toDouble * math.max(1, written - firstStart))
    l("ingest.calls") = callS.size + guard
    l("ingest.empty_call_s") = emptyCallS
    l("ingest.call_p50_s") = Stats.pctD(callS.toSeq, 0.5)
    l("ingest.call_max_s") = if (callS.isEmpty) 0 else callS.max
    l("ingest.backlog_rows_max") = backlogMax
    l("ingest.segments_max") = segmentsMax
    l("ingest.trimmed_segments") = trimmed
    l("ingest.rows_per_busy_s") = persisted / busyS
    l("ingest.finalize_s") = lastCallS
    l("ingest.parts") = parts
  }
}

object LiveTail {
  /** `batchHz` write batches per second of `batch` samples each. */
  final case class Size(batchHz: Int, batch: Int, keysPerSegment: Long, trimAgeMs: Long,
      period: Int, warmSamples: Int)
  object Size {
    val Full = Size(batchHz = 1000, batch = 10, keysPerSegment = 10000, trimAgeMs = 1000,
      period = 1 << 17, warmSamples = 20000)
    val Tiny = Size(batchHz = 200, batch = 10, keysPerSegment = 500, trimAgeMs = 200,
      period = 4096, warmSamples = 1000)
  }
}

object dirBytes {
  def apply(p: Path): Long = {
    val f = p.toFile
    if (f.isFile) f.length()
    else Option(f.listFiles()).getOrElse(Array.empty).map(c => apply(c.toPath)).sum
  }
}
