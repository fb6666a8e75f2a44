package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** As-of enrichment INSIDE a streaming plan — the streaming counterpart of
  * the batch as-of join (`graft.plans.AsOfJoin`): every event picks up
  * the latest dimension version at-or-before its event time, left-outer
  * semantics (unmatched / null-key / null-time events keep null carries).
  *
  * Spark shape: the dimension is pre-aggregated per key into ONE row
  * holding a time-sorted version array (`sort_array(collect_list(...))`),
  * the stream equi-joins it (stream-static left join — legal mid-stream,
  * unlike a window function or a terminal foreachBatch), and a native
  * binary-search expression ([[graft.functions.AsOfPick]]) selects the
  * version in O(log versions) per event inside codegen.
  *
  * Scale posture: the joined payload per key is one array row, so a
  * broadcast works whenever (keys × versions) fits an executor — the usual
  * case for slowly-changing dimensions; set `broadcastDim = false` to fall
  * back to a shuffled stream-static join for huge dimensions (same
  * semantics, one exchange on the key). The dimension snapshot is taken at
  * query START; restart the query (hot-swap, T15) to pick up dimension
  * changes — for continuously-updating dimensions, model the dim itself as
  * a stream and use the batch as-of per micro-batch instead. */
object StreamAsOf {

  def enrichAsOf(stream: DataFrame, dim: DataFrame, key: String,
                 eventTs: String, dimTs: String, carry: Seq[String],
                 broadcastDim: Boolean = true): DataFrame = {
    require(carry.nonEmpty, "enrichAsOf: need at least one carry column")
    // The join plumbing reserves __versions/__pick internally, prefixes
    // carries with asof_, and names the struct's time field __t — a stream
    // column with any of those names would be silently clobbered (and a
    // carry literally named __t would collide with the struct's time field,
    // making getField ambiguous). Fail loudly instead.
    val reserved = Set("__versions", "__pick") ++ carry.map(c => s"asof_$c")
    val streamClash = stream.columns.filter(reserved)
    require(streamClash.isEmpty,
      s"enrichAsOf: stream columns ${streamClash.mkString(", ")} collide with " +
        "reserved internal names (__versions, __pick, asof_<carry>)")
    require(!carry.contains("__t"),
      "enrichAsOf: carry column __t collides with the version struct's time field")
    // null version times can never match (SQL as-of) — drop them here so
    // the sorted array binary-search never sees them
    val versions = dim.filter(col(dimTs).isNotNull)
      .groupBy(col(key))
      .agg(sort_array(collect_list(
        struct((col(dimTs).as("__t") +: carry.map(col)): _*))).as("__versions"))
    val dimSide = if (broadcastDim) broadcast(versions) else versions
    val joined = stream.join(dimSide, Seq(key), "left")
      .withColumn("__pick",
        graft.functions.AsOfExpressions.asof_pick(col("__versions"), col(eventTs)))
    carry.foldLeft(joined) { (df, c) =>
      df.withColumn(s"asof_$c", col("__pick").getField(c))
    }.drop("__versions", "__pick")
  }
}
