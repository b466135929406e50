package graftbench

import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Pipeline}

/** The curation batch the index workload's set-up runs: a seeded corpus
  * with planted near-duplicate clusters goes through cleanCorpus (quality
  * gate + exact dedup + annotation), LSH candidate pairs, near-dup groups
  * and quality-ranked resolution; the survivors are what gets indexed.
  *
  * The output must equal [[survivors]], a driver-side evaluation of the
  * same LSH construction over the generated texts; dup recall and
  * precision are measured against the planted clusters. */
object CorpusDedup {
  val Docs = 12000
  val Clusters = 900
  val Vocabulary = 30000
  val LowQualityShare = 0.02
  val MinHashes = 20
  val BandWidth = 2
  val SetupRuns = 2
  val RecallFloor = 0.95

  final case class Doc(id: Long, text: String, cluster: Int, lowQuality: Boolean) {
    def tokens: Int = text.split(" ").length
  }

  /** Seeded corpus: random pseudo-words; a cluster is a base document plus
    * one to three copies — exact, with its last word replaced, or with one
    * word appended. */
  def corpus(seed: Long): Seq[Doc] = {
    val rnd = new Random(seed)
    val vocab = Array.fill(Vocabulary)(
      Iterator.continually(('a' + rnd.nextInt(26)).toChar).take(4 + rnd.nextInt(6)).mkString)
    def words(n: Int): Array[String] = Array.fill(n)(vocab(rnd.nextInt(Vocabulary)))
    val texts = mutable.ArrayBuffer.empty[(String, Int, Boolean)]
    var cluster = 0
    while (texts.size < Docs) {
      val base = words(60 + rnd.nextInt(60))
      if (cluster < Clusters) {
        texts += ((base.mkString(" "), cluster, false))
        (1 to 1 + rnd.nextInt(3)).foreach { _ =>
          val copy = rnd.nextInt(4) match {
            case 0 => base
            case 1 => base :+ vocab(rnd.nextInt(Vocabulary))
            case _ => base.updated(base.length - 1, vocab(rnd.nextInt(Vocabulary)))
          }
          texts += ((copy.mkString(" "), cluster, false))
        }
        cluster += 1
      } else if (rnd.nextDouble() < LowQualityShare)
        texts += ((words(5 + rnd.nextInt(10)).mkString(" "), -1, true))
      else texts += ((base.mkString(" "), -1, false))
    }
    val ids = rnd.shuffle((0L until texts.size.toLong).toVector)
    texts.zip(ids).map { case ((t, cl, lq), id) => Doc(id, t, cl, lq) }.toSeq
  }

  private val md5 = ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** Big-endian value of `n` digest bytes from `from`. */
  private def bits(d: Array[Byte], from: Int, n: Int): Long =
    (from until from + n).foldLeft(0L)((acc, i) => (acc << 8) | (d(i) & 0xffL))

  /** LSH band keys of one text, by the published construction graft
    * documents (word 3-shingles; one md5 per shingle split into two 48-bit
    * halves h1, h2; slot j = min(h1 + j * h2); band b = md5 of
    * "b,slot,slot"), computed here on the driver. */
  def bandKeys(text: String): Seq[(Long, Long)] = {
    val tk = text.split(" ")
    val shingles =
      if (tk.length < 3) Seq(text) else (0 to tk.length - 3).map(i => tk.slice(i, i + 3).mkString(" "))
    val hashes = shingles.distinct.map { sh =>
      val d = md5.get.digest(sh.getBytes("UTF-8"))
      (bits(d, 0, 6), bits(d, 6, 6))
    }
    val slots = (0 until MinHashes).map(j => hashes.map { case (h1, h2) => h1 + j * h2 }.min)
    (0 until MinHashes / BandWidth).map { b =>
      val d = md5.get.digest((b.toString +: slots.slice(b * BandWidth, (b + 1) * BandWidth)
        .map(_.toString)).mkString(",").getBytes("UTF-8"))
      (bits(d, 0, 8), bits(d, 8, 8))
    }
  }

  /** Ids the pipeline must keep: quality gate (at least 20 tokens), exact
    * dedup to the lowest id, LSH candidate pairs from [[bandKeys]], their
    * connected components, and per component the member with the most
    * tokens (ties: lowest id). */
  def survivors(docs: Seq[Doc]): Set[Long] = {
    val kept = docs.filter(_.tokens >= 20).groupBy(_.text).values.map(_.minBy(_.id)).toSeq
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    kept.par.flatMap(d => bandKeys(d.text).map(_ -> d.id)).seq.groupBy(_._1).values.foreach { ids =>
      val root = find(ids.head._2)
      ids.tail.foreach { case (_, id) => val r = find(id); if (r != root) parent(r) = root }
    }
    kept.groupBy(d => find(d.id)).values.map(_.minBy(d => (-d.tokens, d.id)).id).toSet
  }

  private val schema = StructType(Seq(StructField("id", LongType), StructField("text", StringType)))

  /** The batch; in a traced batch each stage is materialized at its span
    * boundary with localCheckpoint, so its jobs land in its own span. */
  def batch(ctx: Ctx, docs: DataFrame): DataFrame = {
    val t = ctx.tracer
    def stage(name: String)(df: => DataFrame): DataFrame =
      t.span(name)(if (t.recording) df.localCheckpoint() else df)
    val cleaned = stage("Pipeline.cleanCorpus")(Pipeline.cleanCorpus(docs, "text", "id"))
    val withText = cleaned.join(docs, "id")
    if (t.recording)
      stage("Dedup.minHashSignatures")(Dedup.minHashSignatures(withText, "text", "id", MinHashes))
    val pairs = stage("Dedup.lshCandidatePairs")(
      Dedup.lshCandidatePairs(withText, "text", "id", MinHashes, BandWidth))
    val groups = stage("Dedup.nearDupGroups")(Dedup.nearDupGroups(pairs))
    val resolved = stage("Dedup.resolveNearDupsByQuality")(
      Dedup.resolveNearDupsByQuality(withText, groups, "id", "n_tokens"))
    cleaned.join(resolved.filter(!col("keep")).select("id"), Seq("id"), "left_anti")
  }

  /** Ground-truth checks of one batch output and the dup metrics. */
  def verify(docs: Seq[Doc], out: Seq[Row]): (Seq[Check], Seq[Metric]) = {
    val got = out.map(_.getAs[Long]("id")).toSet
    val want = survivors(docs)
    val clusters = docs.filter(_.cluster >= 0).groupBy(_.cluster).values
    val planted = clusters.map(_.size - 1).sum
    val removed = docs.filterNot(_.lowQuality).map(_.id).toSet -- got
    val removedPlanted = clusters.map(m => math.min(m.count(d => removed(d.id)), m.size - 1)).sum
    val recall = removedPlanted.toDouble / planted
    val members = clusters.flatten.map(_.id).toSet
    val precision = if (removed.isEmpty) 1.0 else removed.count(members).toDouble / removed.size
    (Seq(
      Check("dedup_survivors_match_reference", got == want,
        s"${got.size} kept vs ${want.size} expected; ${(want -- got).size} wrongly removed, " +
          s"${(got -- want).size} wrongly kept"),
      Check("dedup_precision_and_recall_floor", precision == 1.0 && recall >= RecallFloor,
        s"recall $recall (floor $RecallFloor) precision $precision over $planted planted duplicates")),
      Seq(Metric("dup_recall", recall, "ratio"), Metric("dup_precision", precision, "ratio"),
        Metric("corpus_docs", docs.size, "count"), Metric("planted_duplicates", planted, "count"),
        Metric("corpus_output_hash",
          out.map(r => scala.util.hashing.MurmurHash3.stringHash(r.mkString("|")).toLong).sum.toDouble,
          "hash")))
  }

  /** Traced-run gauges: candidate precision of the LSH pairs and the busy
    * share of the traced dedup batches. */
  def traceGauges(ctx: Ctx, docs: Seq[Doc], input: String): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val cleaned = Pipeline.cleanCorpus(spark.read.parquet(input), "text", "id")
    val pairs = Dedup.lshCandidatePairs(cleaned.join(spark.read.parquet(input), "id"),
      "text", "id", MinHashes, BandWidth).collect()
    val cluster = docs.map(d => d.id -> d.cluster).toMap
    val planted = pairs.count(r => cluster(r.getLong(0)) >= 0 &&
      cluster(r.getLong(0)) == cluster(r.getLong(1)))
    t.gauge("Dedup.candidate_precision", if (pairs.isEmpty) 0.0 else planted.toDouble / pairs.length)
    val (inst, _) = t.reduce()
    val cpu = inst.filter(x => Layers.Corpus.contains(x._1.name)).map(_._2.taskCpuS).sum
    val wall = inst.filter(_._1.name == Layers.DedupBatch).map(_._2.wallS).sum
    if (wall > 0) t.gauge("corpus.busy_share", cpu / (wall * ctx.cores))
  }
}
