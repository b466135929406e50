package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Log-structured ADDITIVE-stats store: incremental maintenance of
  * count artifacts ([[TextAnalysis.lmStats]], [[TextAnalysis.nbStats]],
  * dsirStats — any frame of key columns + summable counts) under
  * at-least-once delivery.
  *
  * Counts are additive but NOT idempotent: a bloom's per-word OR
  * absorbs a replayed delivery by algebra ([[Dedup.mergeBloomInto]]),
  * a count does not — fold a replayed batch in twice and every
  * perplexity downstream is silently wrong. Exactly-once effect
  * therefore needs delivery bookkeeping, and this store makes the
  * LAYOUT the bookkeeping: each delivery writes its config-sized
  * partial ONCE, to an immutable partition keyed by the caller's
  * delivery id (`path/delivery_id=<id>/`). A redelivery finds its
  * partition committed (`_SUCCESS`) and is a no-op, so the rollup —
  * sum over partitions, [[readStats]] — is replay-neutral by
  * construction: no log table, no anti-join, no read-modify-write of
  * the artifact (the per-delivery write never reads what it extends,
  * unlike a merge-in-place, so there is no lost-update window
  * either).
  *
  * The artifact rolls up at read time — (config-sized × deliveries)
  * rows, bounded by [[compact]], which folds every partition into one
  * `__base__` partition and records the absorbed delivery ids in a
  * hidden `_absorbed` manifest (underscore-prefixed: invisible to
  * parquet discovery). [[writeDelivery]] consults the manifest, so a
  * replay arriving AFTER its partition was compacted away is still
  * absorbed instead of double-counting — the band index's tombstone
  * discipline applied to counts. Compaction commits the manifest and
  * then the rolled base through [[StagedReplace.replaceDir]], and every
  * entry point heals an interrupted one by StagedReplace's one rule (a
  * committed base stage supersedes exactly the manifest-listed
  * partitions it absorbed; partitions delivered after the crash are
  * untouched), so no crash point loses or double-counts a delivery.
  * The `_SUCCESS` marker ([[StagedReplace.committed]]) is the
  * committed/crashed boundary EVERYWHERE: [[writeDelivery]] redoes an
  * uncommitted partition, and [[readStats]]/[[compact]] skip it — a
  * crashed write is invisible until its redelivery heals it, never
  * summed partially and never absorbed into the manifest (absorption
  * would suppress the healing redelivery: permanent silent loss).
  *
  * Concurrency: writers of DISTINCT delivery ids touch disjoint
  * immutable partition directories and are safe in PARALLEL
  * (production ingests shards concurrently), and readers racing them
  * see whole-delivery snapshots with monotone visibility — both
  * pinned on real threads by StatsStoreConcurrencySpec. [[compact]]
  * stays single-writer, like every graft maintenance rewrite (it
  * deletes the partitions it absorbs); run it between deliveries.
  * Delivery ids must be CONTENT-derived (a residue class, a source
  * file name, a business date — the w13 pattern), never a streaming
  * batchId: Structured Streaming renumbers a redelivered file as a
  * fresh batch, so a batchId-keyed delivery would double-count the
  * replay this store exists to absorb (see
  * [[graft.streaming.CdcStream.foreachBatchLoader]]). */
object StatsStore {

  /** The compacted partition's delivery id. */
  val BasePartition = "__base__"

  private def partDir(path: String, id: String) =
    new org.apache.hadoop.fs.Path(path, s"delivery_id=$id")

  private def absorbedDir(path: String) =
    new org.apache.hadoop.fs.Path(path, "_absorbed")

  /** Delivery ids become partition directory names AND must inference-
    * stably read back as strings: letters required, a safe charset,
    * and the base name reserved. */
  private def requireDeliveryId(id: String): Unit = {
    require(id.matches("[A-Za-z0-9._-]+") && id.exists(_.isLetter),
      s"StatsStore: delivery id '$id' must be non-empty [A-Za-z0-9._-] " +
        "containing at least one letter (it becomes a partition " +
        "directory name and must read back as a string)")
    require(id != BasePartition,
      s"StatsStore: delivery id '$id' is reserved")
  }

  /** The manifest is delivery-grain — bounded by deliveries ever
    * compacted, not by data; the cap makes a runaway (a caller
    * generating unbounded distinct delivery ids) loud instead of a
    * silent driver OOM. */
  private def absorbedIds(spark: SparkSession, path: String): Set[String] = {
    val dir = absorbedDir(path)
    if (!StagedReplace.fsOf(spark, dir).exists(dir)) Set.empty
    else DriverBounded.collectCapped(
      spark.read.parquet(dir.toString).distinct(), 1 << 22,
      s"StatsStore: absorbed-delivery manifest at $dir exceeds 2^22 " +
        "ids — delivery ids must be batch-grain (dates, file names), " +
        "not row-grain")
      .map(_.getString(0)).toSet
  }

  /** Delivery partitions currently on disk. `committedOnly` keeps
    * only directories with a `_SUCCESS` marker — a directory WITHOUT
    * one is a crashed [[writeDelivery]] (the write job never
    * committed) whose healing redelivery will redo it whole; summing
    * or absorbing its partial files would turn the crash into a
    * silent permanent undercount, so [[readStats]] and [[compact]]
    * must both skip it. */
  private def partitionIds(spark: SparkSession, path: String,
      committedOnly: Boolean): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = StagedReplace.fsOf(spark, root)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("delivery_id="))
      .filter(st => !committedOnly || StagedReplace.committed(fs, st.getPath))
      .map(_.getPath.getName.stripPrefix("delivery_id="))
  }

  /** Committed delivery partitions currently visible to readers — the
    * observability hook mid-stream gates assert on: [[compact]] leaves
    * exactly [[BasePartition]], a manifest-absorbed redelivery never
    * reappears, and a crashed (uncommitted) write is not listed. */
  def visibleDeliveryIds(spark: SparkSession, path: String): Seq[String] =
    partitionIds(spark, path, committedOnly = true)

  /** Heal a [[compact]] interrupted at either commit — the manifest's
    * first, then the base's, in the order compact makes them. Called by
    * every entry point. */
  private def completeInterruptedCompact(spark: SparkSession,
      path: String): Unit = {
    StagedReplace.healDir(spark, absorbedDir(path))
    StagedReplace.healDir(spark, partDir(path, BasePartition),
      () => supersedeAbsorbed(spark, path))
  }

  /** The staged base summed every partition visible when it was built:
    * the manifest-listed ones and the old base (which the promotion
    * replaces). Delete the listed ones; deliveries that landed after
    * are not listed, and survive. */
  private def supersedeAbsorbed(spark: SparkSession, path: String): Unit = {
    val absorbed = absorbedIds(spark, path)
    val fs = StagedReplace.fsOf(spark, new org.apache.hadoop.fs.Path(path))
    partitionIds(spark, path, committedOnly = false).filter(absorbed)
      .foreach { id => fs.delete(partDir(path, id), true); () }
  }

  /** Fold one delivery's stats partial in: writes
    * `path/delivery_id=<deliveryId>/` once; a redelivery (partition
    * committed, or id absorbed by a past [[compact]]) is a no-op.
    * `stats` must be the partial over exactly this delivery's rows —
    * config-sized by the stats builders' contract, so the write is
    * cheap at any corpus size and never touches the rest of the
    * store. */
  def writeDelivery(path: String, deliveryId: String,
      stats: DataFrame): Unit =
      DriverBounded.labeled(stats.sparkSession,
        s"statsStore.writeDelivery:$deliveryId") {
    requireDeliveryId(deliveryId)
    require(!stats.columns.contains("delivery_id"),
      "StatsStore: the stats frame must not carry a delivery_id " +
        "column — that name is the store's partition key (the value " +
        "comes from the directory name at read time)")
    val spark = stats.sparkSession
    completeInterruptedCompact(spark, path)
    val dir = partDir(path, deliveryId)
    val fs = StagedReplace.fsOf(spark, dir)
    if (!StagedReplace.committed(fs, dir) &&
        !absorbedIds(spark, path)(deliveryId)) {
      // a dir without _SUCCESS is a crashed write: the overwrite
      // clears it and redoes it whole
      stats.write.mode("overwrite").parquet(dir.toString)
    }
  }

  /** The current artifact: every partition's partials summed at
    * `keyCols` grain. Count-column metadata (the bucket/order config
    * the scorers validate) is re-attached from the stored schema, so
    * the rollup drops into [[TextAnalysis.nbScore]]/lmPerplexity
    * exactly like a one-shot artifact. Only COMMITTED partitions are
    * summed: a directory without `_SUCCESS` is a crashed
    * [[writeDelivery]] whose partial files must not leak into the
    * rollup — the healing redelivery will redo it whole, and until
    * then the store reads as if that delivery never arrived (the
    * at-least-once contract's consistent view). Reading a store with
    * no committed delivery fails loudly (no schema to infer — write a
    * delivery first). */
  def readStats(spark: SparkSession, path: String,
      keyCols: Seq[String]): DataFrame = {
    completeInterruptedCompact(spark, path)
    val ids = partitionIds(spark, path, committedOnly = true)
    require(ids.nonEmpty,
      s"StatsStore at $path has no committed delivery partition — " +
        "write a delivery first (a dir without _SUCCESS is a crashed " +
        "write awaiting its redelivery, not data)")
    val raw = spark.read
      .parquet(ids.map(id => partDir(path, id).toString): _*)
    val sums = raw.schema.fields.filterNot(f => keyCols.contains(f.name))
    require(sums.nonEmpty && sums.forall(_.dataType.isInstanceOf[
        org.apache.spark.sql.types.NumericType]),
      s"StatsStore: non-key columns must be summable counts, got " +
        sums.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", "))
    val aggCols = sums.map(f => sum(col(f.name)).as(f.name, f.metadata))
      .toIndexedSeq
    raw.groupBy(keyCols.map(col).toIndexedSeq: _*)
      .agg(aggCols.head, aggCols.tail: _*)
  }

  /** Fold every COMMITTED partition into one `__base__` partition:
    * the absorbed delivery ids are committed to the hidden manifest
    * FIRST (a crash at any later point leaves the store readable and
    * replay-safe — see [[completeInterruptedCompact]]), then the rollup
    * replaces the base, superseding the partitions it absorbed, so
    * readers never see base and partials together. Both commits are
    * [[StagedReplace.replaceDir]]s; the manifest is rewritten whole as
    * one delivery-grain file (it is read at every [[writeDelivery]]).
    * An UNCOMMITTED partition (a crashed [[writeDelivery]]) is skipped
    * entirely — absorbing it would manifest its id with zero/partial
    * rows and permanently suppress the healing redelivery, silently
    * losing the delivery; skipped, it sits inert until the redelivery
    * redoes it. Idempotent; read cost drops back to one config-sized
    * partition. */
  def compact(spark: SparkSession, path: String,
      keyCols: Seq[String]): Unit =
      DriverBounded.labeled(spark, s"statsStore.compact") {
    completeInterruptedCompact(spark, path)
    val ids = partitionIds(spark, path, committedOnly = true)
    if (ids.isEmpty || ids == Seq(BasePartition)) return
    // the rollup is config-sized by grain (the localizeStats
    // discipline): materialize it BEFORE any delete
    //
    // ORDERING INVARIANT — the manifest commit below deliberately
    // precedes the base's: a crash between them leaves the manifest
    // listing still-LIVE committed partitions, which is benign
    // (readStats sums each live partition once; a redelivery of a
    // listed-but-live id is a no-op because its partition is
    // committed; the next compact re-rolls and re-lists it). The
    // REVERSE order opens a real hole: a base committed before its
    // absorbed ids are manifest-listed would double-count every
    // absorbed delivery that replays after the crash — the base's heal
    // supersedes only manifest-listed partitions, so do not "fix" this
    // ordering.
    val rolled = TextAnalysis.localizeStats(readStats(spark, path, keyCols))
    import spark.implicits._
    val absorbed = absorbedIds(spark, path) ++ ids.filter(_ != BasePartition)
    StagedReplace.replaceDir(spark, absorbedDir(path)) { stage =>
      absorbed.toSeq.toDF("delivery_id").coalesce(1)
        .write.mode("overwrite").parquet(stage.toString)
    }
    StagedReplace.replaceDir(spark, partDir(path, BasePartition),
        () => supersedeAbsorbed(spark, path)) { stage =>
      rolled.write.mode("overwrite").parquet(stage.toString)
    }
  }
}
