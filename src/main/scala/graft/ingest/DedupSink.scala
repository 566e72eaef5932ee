package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{StructField, StructType}

/** The idempotent dedup-append sink — the reference's
  * `INSERT … ON CONFLICT (key) DO NOTHING` (SURVEY.md §2.5 K1-K8,
  * utils/db_helpers.py:92-300) re-expressed as:
  *
  *   1. within-batch dedup: one deterministic representative per conflict
  *      key (row_number over a caller-supplied total-order tiebreak — NOT
  *      dropDuplicates, whose surviving row is partition-order-dependent);
  *   2. cross-batch dedup: null-safe LEFT ANTI join against the existing
  *      sink's keys;
  *   3. append.
  *
  * Re-ingesting any batch is a no-op (exactly-once effect from
  * at-least-once fetch). NULL-key semantics: Postgres ON CONFLICT treats
  * NULLs as distinct (duplicate NULL-key rows keep inserting); we use
  * null-safe equality (`<=>`) so NULL keys dedup like values — the saner
  * behavior for an analytics sink, documented as a deliberate divergence
  * (SURVEY.md §7.4-2).
  *
  * Scale: the anti-join shuffles batch + existing keys only (existing is
  * pruned to key columns at scan, and the join key is the natural
  * partitioning of the sink); with a Delta/Iceberg sink this becomes
  * `MERGE WHEN NOT MATCHED INSERT` with file skipping. Parquet-dir append
  * keeps the same logical contract for the hermetic tests.
  */
final case class AppendResult(inserted: Long, perGroup: Map[String, Long])

object DedupSink {

  /** A sink dir is READABLE only if it actually contains parquet files —
    * a partitioned write of an empty frame leaves just _SUCCESS, and
    * `spark.read.parquet` on that throws UNABLE_TO_INFER_SCHEMA forever
    * after. Existence checks must use this, not File.exists().
    */
  private[graft] def readable(path: String): Boolean = {
    def hasParquet(f: java.io.File): Boolean =
      f.isFile && f.getName.endsWith(".parquet") ||
        (f.isDirectory && Option(f.listFiles()).exists(_.exists(hasParquet)))
    hasParquet(new java.io.File(path))
  }

  /** A parquet file at the dir ROOT of a partitioned sink can only be the
    * empty schema marker (partitioned appends always write under partition
    * subdirs) — the first real write must replace it wholesale or the
    * mixed layout breaks partition discovery.
    */
  private[graft] def rootParquet(path: String): Boolean =
    Option(new java.io.File(path).listFiles()).toSeq.flatten
      .exists(f => f.isFile && f.getName.endsWith(".parquet"))

  /** The existing-sink key scan for the cross-batch anti-join, partition-
    * pruned: when the sink's physical partition columns are a subset of the
    * conflict key, a key can only collide inside its own partition, so the
    * existing side is restricted to the partitions the batch touches — the
    * filter lands in the scan's PartitionFilters and append cost is
    * O(touched partitions), not O(sink). Global-key sinks (partition column
    * not in the key, e.g. twitter's tweet_id) must scan all partitions: the
    * same key may already exist under another company.
    *
    * The scan is read with the batch's own key-column types, not an
    * inferred schema: inference costs a footer-reading job per append, and
    * it types an all-numeric partition value as an integer — `"0042"`'s
    * partition would then read back as 42 and collide with `"42"`'s keys.
    *
    * `partitions`: the values of the sink's one partition column that the
    * batch may carry, when the caller already knows them (IngestJob: the
    * eligible company names). Without it the touched set is collected
    * from the batch, which evaluates the batch's whole plan once more.
    */
  private[ingest] def existingKeys(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      key: Seq[String],
      partitionBy: Seq[String],
      partitions: Option[Set[String]] = None): DataFrame = {
    require(readable(path), s"existingKeys on a schema-less sink dir: $path")
    val keySchema = StructType(key.map(k => StructField(k, batch.schema(k).dataType)))
    val existingAll = spark.read.schema(keySchema).parquet(path)
    val keySet = key.toSet
    val prunable = partitionBy.nonEmpty && partitionBy.forall(keySet)
    val existingScan =
      if (!prunable) existingAll
      else {
        // Caller-supplied values, else the pre-dedup batch's (same distinct
        // set — the within-batch window only drops duplicate-key rows);
        // O(batch) rows scanned, O(touched partitions) rows collected.
        val touched: Seq[Seq[Any]] = partitions match {
          case Some(ps) => ps.toSeq.map(Seq(_))
          case None => batch.select(partitionBy.map(col): _*).distinct().collect().toSeq.map(_.toSeq)
        }
        val filters = partitionBy.zipWithIndex.map { case (c, i) =>
          val vs = touched.map(_(i))
          val nonNull = vs.filter(_ != null)
          val base = if (nonNull.isEmpty) lit(false) else col(c).isin(nonNull: _*)
          if (vs.contains(null)) base || col(c).isNull else base
        }
        filters.reduceOption(_ && _).map(existingAll.filter).getOrElse(existingAll)
      }
    existingScan.select(key.map(col): _*)
  }

  /** Append `batch` to the parquet sink at `path`, deduplicating on `key`.
    * Returns insert counts (total and, when `groupCol` is set, per group —
    * one row per group, driver-safe).
    *
    * Counts are materialized BEFORE the write: the fresh-rows plan reads the
    * sink path it is about to append to, and Spark invalidates/refreshes
    * plans on that path after the write — a post-write evaluation would see
    * its own insertions in the anti-join and report 0. They are taken in
    * one stage over the checkpointed rows (per-task hash counts merged on
    * the driver), where a DataFrame `groupBy().count()` would add a shuffle
    * stage that AQE runs as a second job.
    *
    * `partitionBy`: physical layout columns for the sink (the engine's one
    * owned physical decision, SURVEY.md §4 — fact tables partition by
    * company so per-company analytics and the watermark path prune files).
    *
    * `partitions`: the partition values the batch may carry, if the caller
    * knows them (see `existingKeys`); requires `groupCol` to be the one
    * partition column. The existing-key scan is pruned to exactly this set,
    * so a batch row outside it would dodge the dedup — before writing, every
    * group with fresh rows is checked against the set, and a group outside
    * it fails the append with nothing written. Such a row always survives
    * the anti-join (its partition was not scanned), so the check sees it.
    */
  def append(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      key: Seq[String],
      tiebreak: Seq[Column],
      groupCol: Option[String] = None,
      partitionBy: Seq[String] = Nil,
      partitions: Option[Set[String]] = None): AppendResult = {
    require(partitions.isEmpty || (partitionBy.size == 1 && groupCol == partitionBy.headOption),
      s"a caller-supplied partition set needs groupCol = the one partition column, " +
        s"got groupCol=$groupCol partitionBy=$partitionBy")
    // Total order: caller tiebreak first, then every remaining column —
    // the surviving representative is independent of partitioning.
    // nulls_last EVERYWHERE (tiebreaks included — Spark's bare-column
    // default is nulls FIRST, which would make a sparse duplicate with a
    // null tiebreak value beat a fully-populated one, e.g. Reddit's
    // dual-query union where only one copy carries the preview).
    val keySet = key.toSet
    val rest = batch.columns.filterNot(keySet).map(col(_).asc_nulls_last).toSeq
    val w = Window.partitionBy(key.map(col): _*)
      .orderBy(tiebreak.map(_.asc_nulls_last) ++ rest: _*)
    val deduped = batch
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    val fresh =
      if (readable(path)) {
        val existing = existingKeys(spark, path, batch, key, partitionBy, partitions)
        val cond = key.map(k => deduped(k) <=> existing(k)).reduce(_ && _)
        deduped.join(existing, cond, "left_anti")
      } else deduped
    // Eager localCheckpoint, not cache(): the fresh-rows plan READS the sink
    // path it is about to APPEND to. cache() keeps the lineage, so a lost
    // block between count() and the write would silently recompute the
    // anti-join against the partially-appended sink and drop rows; the
    // checkpoint truncates the lineage — the write can only read the
    // materialized blocks, and block loss fails the job loudly instead.
    val snapshot = fresh.localCheckpoint(true)
    val counts = snapshot.select(groupCol.map(col).getOrElse(lit(null).cast("string"))).rdd
      .mapPartitions { rows =>
        val m = scala.collection.mutable.HashMap.empty[String, Long]
        rows.foreach { r => m(r.getString(0)) = m.getOrElse(r.getString(0), 0L) + 1L }
        Iterator.single(m.toMap)
      }
      .fold(Map.empty[String, Long])(mergeCounts)
    val perGroup = if (groupCol.isDefined) counts else Map.empty[String, Long]
    val total = counts.values.sum
    partitions.foreach { ps =>
      val stray = perGroup.keySet -- ps
      require(stray.isEmpty, s"batch rows outside the caller's partition set $ps: " +
        s"${stray.mkString(", ")} (their existing keys were not scanned)")
    }
    def writer(mode: String) = {
      val w = snapshot.write.mode(mode)
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
    }
    val marker = partitionBy.nonEmpty && rootParquet(path)
    if (total > 0) writer(if (marker) "overwrite" else "append")
    else if (!readable(path)) {
      // Materialize an empty sink so downstream reads see the schema —
      // WITHOUT partitionBy: a partitioned write of zero rows emits no
      // data files at all (only _SUCCESS), which poisons the dir — every
      // later read throws UNABLE_TO_INFER_SCHEMA. A non-partitioned empty
      // write produces one schema-bearing file; the partition columns ride
      // along as ordinary columns, and `readable` means the first REAL
      // append replaces this marker cleanly via overwrite.
      snapshot.write.mode("overwrite").parquet(path)
    }
    AppendResult(total, perGroup)
  }

  private def mergeCounts(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.foldLeft(a) { case (acc, (k, n)) => acc.updated(k, acc.getOrElse(k, 0L) + n) }
}
