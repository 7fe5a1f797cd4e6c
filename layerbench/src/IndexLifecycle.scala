package layerbench

import java.nio.file.Paths

import graft.core.Pins
import graft.operators.AnnOps
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A closed loop over the durable IVF-PQ index: build on 80% of a seeded
  * clustered corpus, append two 10% batches, delete 1%, compact, then
  * serve query batches back to back. Never touches the transport or the
  * ingester. */
final class IndexLifecycle extends Workload {
  import IndexLifecycle._

  def generatorThreads: Int = 1
  private var emb: Embeddings = _
  private var vecs: Array[Array[Float]] = _
  private var keys: Array[String] = _

  def generate(ctx: Ctx): Unit = {
    val sz = ctx.scale.index
    emb = new Embeddings(ctx.seed, sz.dim, sz.clusters, sz.sources)
    val (v, k) = emb.corpus(sz.n)
    vecs = v; keys = k
  }

  def warmUp(ctx: Ctx): Unit = {
    val sz = ctx.scale.index
    val m = sz.warmN
    val dir = ctx.dir("warm-index").toString
    val spark = ctx.spark
    val p = sz.params
    AnnOps.buildIvfPqIndex(frame(spark, 0 until m * 8 / 10), "id", "emb", "source", dir,
      cells = p.cells, pqM = p.pqM, pqKs = p.pqKs)
    AnnOps.appendIvfPqIndex(frame(spark, m * 8 / 10 until m), "id", "emb", "source", dir, 1L)
    AnnOps.deleteFromIndex(ids(spark, Seq(0L, 1L)), "id", dir, 1L)
    AnnOps.compactIndex(spark, dir)
    serve(spark, dir, queries(spark, 0, sz.queriesPerBatch, new scala.util.Random(1)), p)
  }

  private def frame(spark: SparkSession, range: Range): DataFrame = {
    import spark.implicits._
    range.map(i => (i.toLong, vecs(i), keys(i))).toDF("id", "emb", "source")
  }

  private def ids(spark: SparkSession, xs: Seq[Long]): DataFrame = {
    import spark.implicits._
    xs.toDF("id")
  }

  /** Query batch `b`: fresh draws from the corpus distribution, with ids
    * no corpus vector has (so no self-match is excluded). */
  private def queries(spark: SparkSession, b: Int, q: Int,
      r: scala.util.Random): (DataFrame, Array[(Long, Array[Float], String)]) = {
    import spark.implicits._
    val rows = Array.tabulate(q) { j =>
      (QueryIdBase + b.toLong * q + j, emb.draw(r), s"src${r.nextInt(emb.sources)}")
    }
    (rows.toSeq.toDF("id", "emb", "source"), rows)
  }

  def run(ctx: Ctx, out: Outcome): Unit = {
    val sz = ctx.scale.index
    val p = sz.params
    val tr = ctx.tracer
    val spark = ctx.spark
    val dir = ctx.dir("index").toString
    val n = sz.n
    val buildEnd = n * 8 / 10
    val app1End = n * 9 / 10
    val rnd = new scala.util.Random(ctx.seed ^ 0x5eed)
    val deleted = rnd.shuffle((0 until n).toVector).take(math.max(1, n / 100)).map(_.toLong).sorted
    val buildDf = frame(spark, 0 until buildEnd).cache()
    val app1Df = frame(spark, buildEnd until app1End).cache()
    val app2Df = frame(spark, app1End until n).cache()
    Seq(buildDf, app1Df, app2Df).foreach(_.count())

    def timed(name: String)(body: => Unit): Double = {
      val t = System.nanoTime()
      tr.span("ann", name)(body)
      (System.nanoTime() - t) / 1e9
    }
    val buildS = timed("buildIvfPqIndex")(AnnOps.buildIvfPqIndex(buildDf, "id", "emb", "source",
      dir, cells = p.cells, pqM = p.pqM, pqKs = p.pqKs))
    val app1S = timed("appendIvfPqIndex")(AnnOps.appendIvfPqIndex(app1Df, "id", "emb", "source", dir, 1L))
    val app2S = timed("appendIvfPqIndex")(AnnOps.appendIvfPqIndex(app2Df, "id", "emb", "source", dir, 2L))
    val skipDelete = ctx.inject == "skip_delete"
    val delS = timed("deleteFromIndex")(if (!skipDelete)
      AnnOps.deleteFromIndex(ids(spark, deleted), "id", dir, 1L))
    val compactS = timed("compactIndex")(AnnOps.compactIndex(spark, dir))
    val rewritten = dirBytes(Paths.get(AnnOps.liveIndexRoot(spark, dir).stripPrefix("file:")))
    val updateS = buildS + app1S + app2S + delS + compactS
    val indexBytes = dirBytes(Paths.get(dir))
    out.ops(5)

    // serve query batches for the window
    val qr = new scala.util.Random(ctx.seed * 7 + 3)
    val serveS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val served = scala.collection.mutable.ArrayBuffer.empty[(Array[(Long, Array[Float], String)], Map[Long, Seq[Long]])]
    val end = System.nanoTime() + ctx.seconds * 1000000000L
    var b = 0
    while (System.nanoTime() < end) {
      val (qdf, qrows) = queries(spark, b, sz.queriesPerBatch, qr)
      val t = System.nanoTime()
      val res = tr.span("ann", "queryIvfPqIndex")(serve(spark, dir, (qdf, qrows), p))
      serveS += (System.nanoTime() - t) / 1e9
      served += ((qrows, res))
      b += 1
    }
    out.ops(b)

    // correctness: recall against brute force over the live corpus, no
    // deleted id served, and every appended id served for its own vector
    val deletedSet = deleted.toSet
    val live = (0 until n).filterNot(i => deletedSet.contains(i.toLong))
    val liveByKey = live.groupBy(keys(_))
    var hits = 0L; var want = 0L
    served.foreach { case (qrows, res) =>
      qrows.foreach { case (qid, v, key) =>
        val truth = liveByKey.getOrElse(key, Nil)
          .map(i => i -> Embeddings.cosine(v, vecs(i))).sortBy(t => (-t._2, t._1)).take(p.k)
          .map(_._1.toLong).toSet
        hits += res.getOrElse(qid, Nil).count(truth.contains)
        want += truth.size
      }
    }
    val recall = hits.toDouble / math.max(1, want)
    val servedDeleted = served.iterator.flatMap(_._2.valuesIterator.flatten).count(deletedSet.contains)
    out.check("index.no_deleted_served", servedDeleted == 0, s"$servedDeleted deleted ids served")

    val probeIds = (buildEnd until n).filterNot(i => deletedSet.contains(i.toLong)) ++
      deleted.map(_.toInt)
    val probe = {
      import spark.implicits._
      probeIds.map(i => (ProbeIdBase + i, vecs(i), keys(i))).toDF("id", "emb", "source")
    }
    // a deep re-rank, so the check asks whether the index holds and serves
    // the id, not whether PQ ranks an exact duplicate first
    val probeRes = tr.span("ann", "probe")(serve(spark, dir, (probe, Array.empty), p,
      rerankDepth = ProbeRerankDepth))
    val missing = probeIds.count { i =>
      !deletedSet.contains(i.toLong) && !probeRes.getOrElse(ProbeIdBase + i, Nil).contains(i.toLong)
    }
    val probeDeleted = probeRes.valuesIterator.flatten.count(deletedSet.contains)
    out.check("index.appended_served", missing == 0, s"$missing appended ids not served for their own vector")
    out.check("index.no_deleted_served_probe", probeDeleted == 0, s"$probeDeleted deleted ids served")

    val vecBytes = n.toDouble * sz.dim * 4
    val weights = Seq(buildS -> buildEnd.toLong, app1S -> (app1End - buildEnd).toLong,
      app2S -> (n - app1End).toLong, delS -> deleted.size.toLong)
    out.e2e("latency_p50_ms") = Stats.pctD(serveS.toSeq, 0.5) * 1e3
    out.e2e("durable_lag_p50_s") = weightedMedian(weights)
    out.e2e("durable_s") = updateS
    out.e2e("bytes_per_user_byte") = indexBytes / vecBytes
    out.e2e("answer_recall") = recall

    val l = out.layer
    l("index_update_s") = updateS
    l("serve_p50_s") = Stats.pctD(serveS.toSeq, 0.5)
    l("serve_batches") = serveS.size
    l("serve_queries_per_batch") = sz.queriesPerBatch
    l("recall_at_10") = recall
    l("ann.build_s") = buildS
    l("ann.append_s") = app1S + app2S
    l("ann.delete_s") = delS
    l("ann.compact_s") = compactS
    l("ann.serve_s") = serveS.sum
    l("ann.index_bytes") = indexBytes
    l("ann.compact_bytes_rewritten") = rewritten
  }
}

object IndexLifecycle {
  val QueryIdBase = 1000000000L
  val ProbeIdBase = 2000000000L
  val ProbeRerankDepth = 200

  final case class Params(cells: Int, pqM: Int, pqKs: Int, nprobe: Int, k: Int)
  final case class Size(n: Int, dim: Int, clusters: Int, sources: Int, queriesPerBatch: Int,
      warmN: Int, params: Params)
  object Size {
    val Full = Size(n = 2000, dim = 64, clusters = 24, sources = 4, queriesPerBatch = 32,
      warmN = 400, params = Params(cells = 8, pqM = 4, pqKs = 16, nprobe = 2, k = 10))
    val Tiny = Size(n = 600, dim = 16, clusters = 6, sources = 2, queriesPerBatch = 8,
      warmN = 200, params = Params(cells = 4, pqM = 4, pqKs = 8, nprobe = 2, k = 10))
  }

  /** One serve; returns each query id's served neighbor ids. */
  def serve(spark: SparkSession, dir: String,
      q: (DataFrame, Array[(Long, Array[Float], String)]), p: Params,
      rerankDepth: Int = 0): Map[Long, Seq[Long]] = {
    val res = AnnOps.queryIvfPqIndex(q._1, "id", "emb", "source", dir, k = p.k, nprobe = p.nprobe,
      rerankDepth = rerankDepth)
    try res.collect().toSeq.groupBy(_.getLong(0)).map { case (qid, rs) =>
      qid -> rs.sortBy(_.getInt(3)).map(_.getLong(1))
    }
    finally Pins.release(res)
  }

  /** Median of durations weighted by how many items each one made durable. */
  def weightedMedian(w: Seq[(Double, Long)]): Double = {
    val sorted = w.sortBy(_._1)
    val half = w.map(_._2).sum / 2.0
    var acc = 0L
    sorted.find { case (_, c) => acc += c; acc >= half }.map(_._1).getOrElse(Double.NaN)
  }
}
