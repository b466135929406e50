package graftbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Similarity

/** `index_lifecycle`: reads beside writes on one persisted IVF index.
  *
  * Set-up fits a k-means codebook over seeded clustered vectors, builds the
  * index and serves one warm-up probe (the session's first, an identity
  * cache miss). Each round of the closed loop then appends one delivery
  * and serves [[ProbesPerRound]] external query batches; every
  * [[DeleteEvery]]-th round also deletes a few live ids and every
  * [[CompactEvery]]-th round compacts. Probe results are checked against
  * an exact kNN computed on the driver over the live vectors. */
object IndexLifecycle {
  val Dim = 64
  val TrueClusters = 64
  val Noise = 0.08f
  val Centroids = 32
  val KMeansIters = 2
  val Buckets = 32
  val K = 10
  val QueriesPerBatch = 16
  val QueryPool = 1024
  val AppendBatch = 500
  val ProbesPerRound = 6
  val DeleteEvery = 1
  val DeletesPerRound = 20
  val CompactEvery = 2
  val SetupRuns = 2
  val WarmUpProbes = 8
  val RecallFloor = 0.5

  /** Seeded vectors around [[TrueClusters]] random unit centres. */
  final class Vectors(seed: Long) {
    private val rnd = new Random(seed)
    private val centres = Array.fill(TrueClusters)(unit(Array.fill(Dim)(rnd.nextGaussian().toFloat)))
    private def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    def draw(): Array[Float] = {
      val c = centres(rnd.nextInt(TrueClusters))
      Array.tabulate(Dim)(i => c(i) + Noise * rnd.nextGaussian().toFloat)
    }
    def draws(n: Int): Array[Array[Float]] = Array.fill(n)(draw())
    def noise(): Float = rnd.nextGaussian().toFloat
  }

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("v", ArrayType(FloatType, containsNull = false))))

  private def frame(spark: SparkSession, ids: Seq[Long], vs: Seq[Array[Float]]): DataFrame =
    Similarity.withNorm(spark.createDataFrame(java.util.Arrays.asList(
      ids.zip(vs).map { case (i, v) => Row(i, v.toSeq) }: _*), schema), "id", "v")

  private def norm(v: Array[Float]): Double = math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x))

  /** Exact cosine top-k over the live vectors, ties to the lowest id. */
  def exactKnn(live: mutable.LinkedHashMap[Long, (Array[Float], Double)],
      q: Array[Float]): Seq[Long] = {
    val qn = norm(q)
    val heap = mutable.PriorityQueue.empty[(Double, Long)](
      Ordering.by[(Double, Long), (Double, Long)](x => (-x._1, x._2)))
    live.foreach { case (id, (v, n)) =>
      var dot = 0.0
      var i = 0
      while (i < Dim) { dot += v(i).toDouble * q(i); i += 1 }
      val sim = dot / (n * qn)
      if (heap.size < K) heap.enqueue(sim -> id)
      else if (sim > heap.head._1 || (sim == heap.head._1 && id < heap.head._2)) {
        heap.dequeue(); heap.enqueue(sim -> id)
      }
    }
    heap.dequeueAll[(Double, Long)].reverse.map(_._2)
  }

  /** The generated corpus, one embedding per document (members of a
    * planted cluster get near-identical vectors) and the query pool,
    * shared by the set-up repetitions. */
  final class Data(ctx: Ctx) {
    val gen = new Vectors(ctx.seed)
    val docs: Seq[CorpusDedup.Doc] = CorpusDedup.corpus(ctx.seed)
    val vectors: Map[Long, Array[Float]] = {
      val byCluster = mutable.Map.empty[Int, Array[Float]]
      docs.map { d =>
        val v =
          if (d.cluster < 0) gen.draw()
          else byCluster.getOrElseUpdate(d.cluster, gen.draw()).map(_ + 0.01f * gen.noise())
        d.id -> v
      }.toMap
    }
    val queries: Array[Array[Float]] = gen.draws(QueryPool)
    val input: String = ctx.path("corpus/docs")
    ctx.spark.createDataFrame(java.util.Arrays.asList(docs.map(d => Row(d.id, d.text)): _*),
      StructType(Seq(StructField("id", LongType), StructField("text", StringType))))
      .repartition(ctx.cores * 2).write.mode("overwrite").parquet(input)
  }

  final class Index(ctx: Ctx, rep: Int, data: Data, survivors: Seq[Long]) {
    private val spark = ctx.spark
    val table = s"ivf.lifecycle$rep"
    val dir = new File(ctx.path(s"warehouse/ivf.db/lifecycle$rep"))
    import data.gen
    val live = mutable.LinkedHashMap.empty[Long, (Array[Float], Double)]
    val deleted = mutable.Set.empty[Long]
    var centroids: DataFrame = _
    var nextId: Long = 1L << 32
    survivors.foreach(id => live(id) = (data.vectors(id), norm(data.vectors(id))))
    var inputBytes: Long = live.size.toLong * Dim * 4

    /** Fit the codebook over the survivors' vectors and build the index. */
    def build(): Unit = {
      spark.sql(s"CREATE DATABASE IF NOT EXISTS ivf LOCATION '${ctx.path("warehouse/ivf.db")}'")
      val base = frame(spark, live.keys.toSeq, live.values.map(_._1).toSeq)
        .repartition(ctx.cores * 2).persist()
      val model = Similarity.kmeansFit(base, "id", Centroids, KMeansIters, Dim)
      centroids = frame(spark, model.centroids.indices.map(_.toLong), model.centroids)
        .select(col("id").cast("int").as("id"), col("v"), col("nrm")).persist()
      ctx.tracer.span("Similarity.buildIvfIndex")(
        Similarity.buildIvfIndex(model.assignment, table, Buckets))
      base.unpersist()
    }

    def append(): Unit = {
      val vs = gen.draws(AppendBatch)
      val ids = (nextId until nextId + AppendBatch).toSeq
      nextId += AppendBatch
      inputBytes += AppendBatch.toLong * Dim * 4
      val batch = frame(spark, ids, vs.toSeq)
      ctx.tracer.span(Layers.Append)(Similarity.appendToIvfIndex(batch, table, centroids, "id", Buckets))
      ids.zip(vs).foreach { case (i, v) => live(i) = (v, norm(v)) }
    }

    /** One external query batch; returns (query index, neighbour ids). */
    def probe(span: String, batchNo: Int): Seq[(Int, Seq[Long])] = {
      val picks = (0 until QueriesPerBatch).map(j => (batchNo * QueriesPerBatch + j) % QueryPool)
      val q = frame(spark, picks.map(p => 1000000000L + p), picks.map(data.queries))
      val rows = ctx.tracer.span(span)(
        Similarity.probeIvfIndexExternal(spark, table, q, centroids, "id", K).collect())
      rows.groupBy(_.getLong(0)).toSeq.map { case (qid, rs) =>
        (qid - 1000000000L).toInt -> rs.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq
      }
    }

    /** Delete half the round's ids from `returned` (so a probe that ignored
      * tombstones would return them again), the rest at random. */
    def delete(rnd: Random, returned: Seq[Long]): Unit = {
      val keys = live.keys.toIndexedSeq
      val ids = (rnd.shuffle(returned.distinct.filter(live.contains)).take(DeletesPerRound / 2) ++
        Seq.fill(DeletesPerRound)(keys(rnd.nextInt(keys.size)))).distinct.take(DeletesPerRound)
      ctx.tracer.span("Similarity.deleteFromIndex")(Similarity.deleteFromIndex(spark, table,
        spark.createDataFrame(java.util.Arrays.asList(ids.map(Row(_)): _*),
          StructType(Seq(StructField("id", LongType)))), "id"))
      ids.foreach { i => live.remove(i); deleted += i }
    }

    def compact(): Unit =
      ctx.tracer.span("Similarity.compactIvfIndex")(Similarity.compactIvfIndex(spark, table))

    def filesPerBucket: Double = Disk.dataFiles(dir).toDouble / Buckets
    def bytes: Long = Disk.bytes(dir)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val t = ctx.tracer
    // set-up: generate and deduplicate the corpus once; then fit, build
    // and serve a warm-up probe, repeated on fresh tables
    t.active = true
    val (data, genMs) = Stats.timeMs(new Data(ctx))
    val (dedupOut, dedupMs) = Stats.timeMs(t.span(Layers.DedupBatch)(
      CorpusDedup.batch(ctx, spark.read.parquet(data.input)).collect().toSeq))
    val survivors = dedupOut.map(_.getAs[Long]("id"))
    var idx: Index = null
    var watched: Seq[(Int, Seq[Long])] = Nil
    val reps = (0 until SetupRuns).map { rep =>
      t.active = rep == 0
      Stats.timeMs {
        idx = new Index(ctx, rep, data, survivors)
        idx.build()
        watched = idx.probe(if (rep == 0) Layers.ProbeSessionFirst else Layers.ProbeFirst, 0)
      }._2 / 1000.0
    }
    // warm-up on the index the loop will use (part of set-up): one append,
    // then probes of batches the loop does not reach
    val warmMs = Stats.timeMs {
      idx.append()
      (1 to WarmUpProbes).foreach(i => idx.probe(Layers.ProbeRepeat, QueryPool / QueriesPerBatch - i))
    }._2
    val setup = reps.map(_ + (genMs + dedupMs + warmMs) / 1000.0)
    val (dedupChecks, dedupDetail) = CorpusDedup.verify(data.docs, dedupOut)
    if (t.enabled) {
      t.active = true
      CorpusDedup.traceGauges(ctx, data.docs, data.input)
    }

    val probeMs = mutable.ArrayBuffer.empty[Double]
    val appendMs = mutable.ArrayBuffer.empty[Double]
    val opMs = mutable.ArrayBuffer.empty[Double]
    val recalls = mutable.ArrayBuffer.empty[Double]
    val probedIndexBytes = mutable.ArrayBuffer.empty[Long]
    val checks = mutable.ArrayBuffer.empty[Check] ++= dedupChecks
    var leaked = 0
    var failed = 0L
    var attempted = 0L
    val rnd = new Random(ctx.seed * 31 + 7)
    var batchNo = 1
    var round = 0
    def timed[T](body: => T): T = {
      attempted += 1
      val (r, ms) = Stats.timeMs(body)
      opMs += ms
      r
    }
    val started = System.nanoTime()
    while ((System.nanoTime() - started) / 1e9 < ctx.seconds && failed == 0) {
      round += 1
      t.active = true
      try t.span("index_lifecycle.round") {
        if (round % DeleteEvery == 0) timed(idx.delete(rnd, watched.flatMap(_._2)))
        if (round % CompactEvery == 0) {
          if (t.recording) {
            t.gauge("index.files_per_bucket", idx.filesPerBucket)
            t.gauge("Similarity.pendingDeletes",
              Similarity.pendingDeletes(spark, idx.table, "id").count().toDouble)
          }
          timed(idx.compact())
        }
        appendMs += timed(Stats.timeMs(idx.append())._2)
        val indexBytes = idx.bytes
        (0 until ProbesPerRound).foreach { p =>
          // the first probe re-sends the watched batch, whose neighbours
          // this round's delete removed; the others take fresh batches
          val span = if (p == 0) Layers.ProbeFirst else Layers.ProbeRepeat
          val (res, ms) = Stats.timeMs(timed(idx.probe(span, if (p == 0) 0 else batchNo)))
          probeMs += ms
          if (t.recording) probedIndexBytes += indexBytes
          res.foreach { case (qi, got) =>
            leaked += got.count(idx.deleted)
            recalls += got.count(exactKnn(idx.live, data.queries(qi)).toSet).toDouble / K
          }
          if (p == 0) watched = res else batchNo += 1
        }
      } catch {
        case e: Exception =>
          e.printStackTrace()
          failed += 1
      }
    }
    t.active = false
    checks += Check("no_deleted_id_returned", leaked == 0,
      s"$leaked deleted ids returned across ${probeMs.size} probe batches")
    val recall = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size
    checks += Check("recall_at_10", recall >= RecallFloor,
      s"recall@$K $recall over ${recalls.size} queries (floor $RecallFloor)")

    if (t.enabled) {
      t.active = true
      val inputs = t.instanceInputBytes(Layers.ProbeFirst) ++ t.instanceInputBytes(Layers.ProbeRepeat)
      if (inputs.nonEmpty && inputs.size == probedIndexBytes.size)
        t.gauge("probe.pruned_share", inputs.sum.toDouble / probedIndexBytes.sum)
    }
    val probes = probeMs
    val tail = Stats.tail(probes)
    Outcome(setup, probeMs.toSeq, opMs.size, opMs.sum / 1000.0, attempted, failed,
      checks.toSeq,
      dedupDetail ++ Seq(
        Metric("corpus_s", dedupMs / 1000, "s"),
        Metric("probe_p50_ms", if (probes.isEmpty) 0 else Stats.median(probes), "ms"),
        Metric("late_probe_p50_ms",
          if (probes.isEmpty) 0 else Stats.median(Stats.lastQuarter(probes)), "ms"),
        Metric("probe_tail_ms", tail.map(_._2).getOrElse(0.0), "ms"),
        Metric("probe_tail_percentile", tail.map(_._1.toDouble).getOrElse(0.0), "percentile"),
        Metric("append_p50_ms", if (appendMs.isEmpty) 0 else Stats.median(appendMs.toSeq), "ms"),
        Metric("ops_per_s", opMs.size / (opMs.sum / 1000.0), "1/s"),
        Metric("recall_at_10", recall, "ratio"),
        Metric("rounds", round, "count"),
        Metric("probe_batches", probes.size, "count"),
        Metric("live_vectors", idx.live.size, "count"),
        Metric("input_bytes", idx.inputBytes.toDouble, "B"),
        Metric("storage_amp", idx.bytes.toDouble / idx.inputBytes, "ratio"),
        Metric("files_per_bucket", idx.filesPerBucket, "count")))
  }
}
