package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A batch-id-fenced parquet store that a stateful foreachBatch stream
  * reads and writes once per epoch, exactly-once under replay: a
  * replayed epoch reads only partitions below its own `batch_id` and
  * overwrites only its own partitions, so it recomputes and rewrites
  * the same rows (the relay's replayable-source + idempotent-sink
  * contract).
  *
  * Layout: one partition `batch_id = N` per epoch. A [[EpochStore.Set]]
  * store also partitions each epoch by the key's hash prefix
  * `hp = pmod(xxhash64(key), HashParts)`, so a probe prunes the store
  * listing to the batch's touched prefixes (a PartitionFilter, before
  * any I/O) and a batch-keyed bloom prunes the surviving rows at the
  * scan, before any join exchange.
  *
  * Compaction is a tiered chain. Base partitions `batch_id = b >= 0`
  * hold epoch b's rows; generations `batch_id = -B1 > -B2 > ...` each
  * fold the base epochs `[prevB, B)`, where `prevB` is the next-older
  * generation's boundary (0 for the first). Coverage is derivable from
  * the generation ids alone, so no manifest is needed, and every fold
  * reads only the pending tail: O(compactEvery · batch), never
  * O(history). Generation count grows by one per `compactEvery` epochs;
  * a second merge level would bound it but needs name-encoded ranges to
  * stay crash-safe.
  *
  * Invariants that keep replays exact with zero coordination:
  *
  *  1. A generation written at batch B folds only base epochs
  *     `[prevB, B)`: never B's own partition, never another generation.
  *     A replayed batch B still reads a store without its own rows and
  *     rewrites `-B` from the same not-yet-deleted inputs.
  *  2. Base inputs are deleted only when a generation covering them was
  *     written by an EARLIER batch: the stream runs batch C only after
  *     committing C-1, so `-g` with g < C is durable. Generations are
  *     immutable and never deleted.
  *
  * Between a generation and the deletion of its inputs the store holds
  * every row twice. A Set store is only ever probed by left-anti or
  * distinct, which ignore duplicates; a Sum store is read through the
  * coverage-aware [[readSum]].
  */
final class EpochStore(spark: SparkSession, dir: String,
    semantics: EpochStore.Semantics) {
  import EpochStore._

  private val root = new Path(dir)
  private def fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val hashed = semantics.isInstanceOf[Set]
  private def hp(key: Column): Column =
    pmod(xxhash64(key), lit(HashParts.toLong))

  /** Partition ids present (base epochs and generations), listed
    * through the Hadoop FileSystem so the store works wherever the
    * checkpoint lives (HDFS/S3, not only `file:`). A directory without
    * `batch_id=` partitions (an empty epoch wrote none) is an empty
    * store.
    */
  private def partIds: Seq[Long] =
    Option(fs.globStatus(new Path(root, "batch_id=*")))
      .map(_.toSeq).getOrElse(Seq.empty)
      .flatMap(s => scala.util.Try(
        s.getPath.getName.stripPrefix("batch_id=").toLong).toOption)

  private def read: DataFrame = spark.read.parquet(dir)

  /** The one write form, for every epoch and every generation: `rows`
    * (the store's columns) become partition `batch_id = partId`.
    * `oneWriter` coalesces to a single task, bounding the partition at
    * ≤ HashParts files without a shuffle; otherwise a Set store
    * repartitions by hp (use it when a coalesce would collapse an
    * upstream shuffle's reduce side to one thread). A Sum store holds
    * one row per key and always has one writer.
    */
  def write(rows: DataFrame, partId: Long,
      oneWriter: Boolean = true): Unit = {
    val keyed =
      if (hashed) rows.withColumn("hp", hp(col(semantics.key))) else rows
    val laid =
      if (hashed && !oneWriter) keyed.repartition(col("hp"))
      else keyed.coalesce(1)
    overwritePartition(laid, dir, partId,
      (if (hashed) Seq("hp") else Nil): _*)
  }

  /** Set-store probe: the store keys below `batchId` that might equal a
    * key of `batchKeys` (a one-column frame), or None when there is
    * nothing to probe (no store partitions below the batch, or no
    * non-NULL batch key). The result may hold false positives and
    * duplicates, never a false negative, so a left-anti or distinct
    * against it is exact.
    *
    * The touched-prefix collect is bounded at HashParts values. The
    * bloom is a scalar subquery, not an eagerly collected literal: an
    * eager collect added two driver round trips per epoch and regressed
    * the composed pipeline stream at bench scale, while the subquery
    * builds inside the probing job. `bloomItems` only sizes the filter;
    * an underestimate raises the false-positive rate, never a result.
    */
  def probe(batchKeys: DataFrame, batchId: Long,
      bloomItems: Long): Option[DataFrame] = {
    require(hashed, s"probe needs a Set store: $dir")
    if (!partIds.exists(_ < batchId)) return None
    val key = semantics.key
    val bk = batchKeys.columns.head
    val prefixes = batchKeys.filter(col(bk).isNotNull)
      .select(hp(col(bk)))
      .distinct().collect().toSeq.map(_.getLong(0))
    if (prefixes.isEmpty) return None
    graft.plans.GraftExtensions.register(spark)
    // per-call-unique view names: fixed session-global names collide
    // when two streams of the same shape share one SparkSession, and a
    // clobbered batch view would prune with the wrong bloom (false
    // negatives ⇒ missed duplicates)
    val suffix = viewSeq.incrementAndGet()
    val batchView = s"graft_store_batch_$suffix"
    val storeView = s"graft_store_keys_$suffix"
    batchKeys.createOrReplaceTempView(batchView)
    // both predicates are PartitionFilters: batch_id fences out the
    // epoch's own (replayed) rows, hp prunes the listing
    read.filter(col("batch_id") < batchId && col("hp").isin(prefixes: _*))
      .select(col(key))
      .createOrReplaceTempView(storeView)
    val items = math.max(64L, bloomItems)
    val pruned = spark.sql(
      s"""SELECT $key FROM $storeView
         |WHERE graft_might_contain(
         |  (SELECT graft_bloom_agg(xxhash64($bk), ${items}L) FROM $batchView),
         |  xxhash64($key))""".stripMargin)
    // spark.sql analyzes eagerly: the views are resolved into the plan
    spark.catalog.dropTempView(batchView)
    spark.catalog.dropTempView(storeView)
    Some(pruned)
  }

  /** Sum-store read for batch `batchId`: (key, value) totals over every
    * committed epoch below it, each counted exactly once, or None for an
    * empty store. Sums cannot tolerate the window in which a generation
    * and its inputs coexist, so the read takes all generations (a
    * disjoint chain) plus only the base epochs at or past the newest
    * boundary. A replay of batch B whose earlier attempt already wrote
    * `-B` reads that generation and an empty base window [B, B): the
    * same totals the first attempt read.
    */
  def readSum(batchId: Long): Option[DataFrame] = {
    require(!hashed, s"readSum needs a Sum store: $dir")
    val parts = partIds
    if (parts.isEmpty) None
    else {
      val cov = parts.filter(g => g < 0 && -g <= batchId).map(-_)
        .foldLeft(0L)(math.max)
      Some(semantics.fold(read.filter(col("batch_id") < 0 ||
        (col("batch_id") >= cov && col("batch_id") < batchId))))
    }
  }

  /** Run at the tail of batch `batchId`: retire base epochs covered by a
    * generation an earlier batch wrote, then fold the pending base tail
    * into generation `-batchId` once `compactEvery` epochs are pending.
    * `compactEvery <= 0` disables compaction (a flat per-epoch layout).
    */
  def compact(batchId: Long, compactEvery: Int): Unit = {
    if (compactEvery <= 0) return
    val parts = partIds
    val cov = parts.filter(g => g < 0 && -g < batchId).map(-_)
      .foldLeft(0L)(math.max)
    parts.filter(p => p >= 0 && p < cov)
      .foreach(p => fs.delete(new Path(root, s"batch_id=$p"), true))
    val pending = parts.count(p => p >= cov && p < batchId)
    if (pending >= compactEvery && batchId > 0) {
      // a generation is the big write: cluster it by hp
      write(semantics.fold(
        read.filter(col("batch_id") >= cov && col("batch_id") < batchId)),
        -batchId, oneWriter = false)
    }
  }
}

object EpochStore {

  /** Hash-prefix fan-out of Set stores. It trades pruning granularity
    * against per-epoch file count (an epoch writes ≤ HashParts files):
    * a trickle batch touching k ≪ 32 prefixes reads k/32 of the store,
    * and the steady-state store stays at one generation chain × 32
    * files plus the epoch tail. A constant, not an option: the probe's
    * prefix filter is computed with the current value, so changing it
    * on an existing store would skip rows written under the old value.
    */
  val HashParts = 32

  /** What a store's rows mean, which fixes how rows of several epochs
    * fold into one.
    */
  sealed trait Semantics {
    def key: String
    def fold(rows: DataFrame): DataFrame
  }
  /** A set of keys; fold = distinct. hp-partitioned and probe-able. */
  final case class Set(key: String) extends Semantics {
    def fold(rows: DataFrame): DataFrame = rows.select(col(key)).distinct()
  }
  /** Per-key running totals of `value`; fold = group-by sum. */
  final case class Sum(key: String, value: String) extends Semantics {
    def fold(rows: DataFrame): DataFrame =
      rows.groupBy(col(key)).agg(sum(col(value)).as(value))
  }

  private val viewSeq = new java.util.concurrent.atomic.AtomicLong

  /** Overwrite partition `batch_id = partId` of `dir` (plus the
    * partitions of `extraParts`) with `rows`, by dynamic partition
    * overwrite: a replay rewrites only its own partitions, and an empty
    * `rows` writes no partition at all.
    */
  private[streaming] def overwritePartition(rows: DataFrame, dir: String,
      partId: Long, extraParts: String*): Unit =
    rows.withColumn("batch_id", lit(partId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id" +: extraParts: _*)
      .parquet(dir)
}
