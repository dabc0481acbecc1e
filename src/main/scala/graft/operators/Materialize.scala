package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.Envelope

/** Materialization of a change stream into latest-row-per-key table state —
  * the engine's flagship operator. This is the Spark-native form of the
  * reference's JDBC sink upsert/delete replay (reference
  * `debezium-connector-jdbc/src/main/java/io/debezium/connector/jdbc/JdbcChangeEventSink.java:89-186`
  * and the key-dedup `ReducedRecordBuffer.java`).
  *
  * Scale notes: `latestState` uses groupBy + max_by (a declarative aggregate
  * with map-side partial aggregation) rather than a window rank — one shuffle
  * on the key, partial combine before it, no per-partition full sort. At
  * 100 TB this is the minimal-shuffle plan: shuffle is keyed by PK, skew maps
  * to AQE skew handling, and no driver-side state exists.
  */
object Materialize {

  /** Latest event per key (the reference's `ReducedRecordBuffer` /
    * `DeduplicatingBuffer` semantics: last event per PK wins, ordered by the
    * source position).
    */
  def reduceByKey(feed: DataFrame): DataFrame = {
    graft.expressions.GraftFunctions.register(feed.sparkSession)
    feed
      // tombstones are compaction markers for log-compacted transports;
      // a state-materializing sink ignores them (the delete they follow
      // already tombstoned the key)
      .filter(col("op") =!= Envelope.OpTombstone)
      .groupBy(col("key"))
      .agg(graft.expressions.GraftFunctions.latestByPos(
        struct(col("before"), col("after"), col("op"), col("source"),
          col("transaction"), col("ts_ms")), col("source.pos")).as("e"))
      .select(col("key"), col("e.before").as("before"), col("e.after").as("after"),
        col("e.op").as("op"), col("e.source").as("source"),
        col("e.transaction").as("transaction"), col("e.ts_ms").as("ts_ms"))
  }

  /** [[reduceByKey]] fused with key-hash BUCKET clustering in ONE
    * shuffle, for the bucket-layout sinks' delta writes: the bucket is
    * a pure function of the key (`pmod(xxhash64(key), buckets)`), so
    * partitioning by bucket already co-locates every key's events —
    * the separate key shuffle + ObjectHashAggregate that
    * [[reduceByKey]] pays is redundant there. Rows sort within each
    * partition by (bucket, key, pos DESC) and a linear scan keeps each
    * key's first row: the same latest-by-pos reduction (ties at equal
    * pos resolve arbitrarily, like the aggregate), already clustered
    * for the partitioned bucket write that follows. Returns
    * `(key, after, op, pos, _bucket)`.
    *
    * At scale this halves the per-epoch shuffle volume of an LSM
    * append and replaces a serialization-heavy object aggregate with a
    * sort — measured 1.44x sustained apply-rate at sf1, idle A/B:
    * 108.3k -> 155.6k rows/s, clearing the BASELINE generator-rate bar
    * (see NOTES r14).
    */
  def reduceToBuckets(feed: DataFrame, buckets: Int,
                      writeTasks: Int): DataFrame = {
    graft.expressions.GraftFunctions.register(feed.sparkSession)
    val projected = feed
      .filter(col("op") =!= Envelope.OpTombstone) // see reduceByKey
      .select(col("key"), col("after"), col("op"),
        col("source.pos").as("pos"))
      .withColumn("_bucket",
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.xxhash64(col("key")),
          org.apache.spark.sql.functions.lit(buckets)))
    latestPerKeyToBuckets(projected, writeTasks)
  }

  /** The reduce half of [[reduceToBuckets]] over rows that ALREADY carry
    * `(key, pos, _bucket)`: hash-cluster by bucket, sort within each
    * partition by (bucket, key, pos DESC), keep each key's first row.
    * One exchange total; also the merge-side reduce of the bucket-layout
    * sinks (previous bucket state unioned with the epoch's events reduces
    * to latest-per-key in the SAME single shuffle that clusters the
    * partitioned write — the groupBy-aggregate + re-repartition form paid
    * two).
    *
    * `writeTasks > 0` places buckets BY ID on exactly `writeTasks`
    * partitions: bucket b goes to partition `b mod writeTasks`, so each
    * task holds ⌊buckets/n⌋ or ⌈buckets/n⌉ whole buckets (still one
    * file per bucket) and AQE cannot coalesce the exchange. A hash
    * repartition is neither: it puts 16 bucket ids on 3 partitions as
    * 4 / 8 / 4 (by id: 6 / 5 / 5), and AQE coalesces it by bytes — a
    * 150-event tail epoch shuffles ~1.7 MB, under the per-partition
    * minimum, so one task sorted and wrote all 16 buckets while the
    * other cores idled (pinned to the touched buckets: tail tasks per
    * epoch 7 → 9, merge p50 −20% to −29% in traced seed-7 pairs).
    * `writeTasks <= 0` leaves the count to the session (`spark.sql
    * .shuffle.partitions` as the ceiling, AQE coalescing by size).
    */
  def latestPerKeyToBuckets(rows: DataFrame, writeTasks: Int): DataFrame = {
    graft.expressions.GraftFunctions.register(rows.sparkSession)
    val clustered =
      if (writeTasks > 0)
        rows.repartitionById(writeTasks,
          pmod(col("_bucket"), lit(writeTasks.toLong)).cast("int"))
      else rows.repartition(col("_bucket"))
    clustered
      .sortWithinPartitions(col("_bucket"), col("key"),
        col("pos").desc)
      // rows of one key are contiguous after the sort; the stateful
      // native predicate keeps each key's first (= max pos) row WITHOUT
      // the external-row round trip a mapPartitions closure forces (the
      // codec dominated the reduce at scale: every envelope struct was
      // deserialized and re-serialized once per epoch just to compare
      // adjacent keys) — see expressions.FirstOfSortedRun for why the
      // optimizer cannot move it off the sort
      .filter(graft.expressions.GraftFunctions.firstOfSortedRun(col("key")))
  }

  /** Apply the full feed: latest row per PK, deletes drop the row, survivors
    * project the `after` image — i.e. replaying c/u/d/r == final table state
    * (the implicit aggregate of CDC, SURVEY §2.6).
    */
  def latestState(feed: DataFrame): DataFrame = {
    val payloadCols = feed.schema("after").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames
    // LatestByPos (TypedImperativeAggregate) instead of max_by: max_by's
    // struct buffer forces SortAggregate; the typed aggregate runs under
    // ObjectHashAggregate — no per-partition sort before the shuffle.
    graft.expressions.GraftFunctions.register(feed.sparkSession)
    feed
      .filter(col("op") =!= Envelope.OpTombstone) // see reduceByKey
      .groupBy(col("key"))
      .agg(graft.expressions.GraftFunctions
        .latestByPos(struct(col("op"), col("after")), col("source.pos"))
        .as("last"))
      .filter(col("last.op") =!= Envelope.OpDelete)
      .select(payloadCols.toIndexedSeq.map(c => col(s"last.after.`$c`").as(c)): _*)
  }

  /** Restart / at-least-once dedup: a replayed prefix of the feed (same
    * events delivered twice) collapses to the original feed by deduplicating
    * on the total-order source position (reference offset-skip semantics,
    * `relational/history/HistoryRecordComparator.java`, SURVEY P10).
    */
  def offsetDedup(feed: DataFrame): DataFrame =
    feed.withColumn("_pos", col("source.pos"))
      .dropDuplicates("_pos")
      .drop("_pos")
}
