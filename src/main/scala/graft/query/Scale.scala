package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale-out utilities for the 100 TB posture (SURVEY.md §7.4 risk 6 and
  * the build contract's "partitioning & shuffle" directives): skew salting,
  * bucketed layout, and sized and Z-ordered writes. These are the knobs a
  * 1000-executor deployment turns that local[32] never needs — shipped and
  * tested so the cluster path is code, not folklore.
  */
object Scale {

  /** Skew-salted equi-join: the skewed (fact) side gets a random salt in
    * [0, saltFactor); the dimension side is exploded across every salt.
    * Hot keys spread over `saltFactor` reducers instead of one straggler.
    * Result identical to `facts.join(dims, keys)` (inner).
    *
    * Use when AQE's skew handling isn't enough (e.g. one key is >10× the
    * p99 partition) — AQE splits skewed partitions of sort-merge joins,
    * but salting also helps aggregations layered on the join. */
  def saltedJoin(facts: DataFrame, dims: DataFrame, key: String,
                 saltFactor: Int = 16): DataFrame = {
    require(saltFactor > 0, "saltFactor must be positive")
    val salted = facts.withColumn("__salt",
      least(floor(rand(42) * saltFactor).cast("int"), lit(saltFactor - 1)))
    val exploded = dims.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(exploded, Seq(key, "__salt")).drop("__salt")
  }

  /** Salted aggregation: two-phase groupBy for skewed keys — partial agg on
    * (key, salt), final agg on key. `partials` maps each aggregate to its
    * re-combine expression (e.g. "cnt" -> sum). */
  def saltedCount(df: DataFrame, key: String, saltFactor: Int = 16): DataFrame =
    df.withColumn("__salt",
        least(floor(rand(7) * saltFactor).cast("int"), lit(saltFactor - 1)))
      .groupBy(col(key), col("__salt")).agg(count(lit(1)).as("__c"))
      .groupBy(col(key)).agg(sum("__c").as("n"))

  /** Gate query: skew-salted TWO-PHASE aggregation over lineitem — counts
    * and exact decimal sums per return flag. Salting only redistributes
    * rows (partial agg on (key, salt), final on key), so the result is
    * IDENTICAL to the plain GROUP BY the DuckDB oracle runs — which is the
    * point: the hot-key survival pattern for 100 TB aggregations, verified
    * to change nothing but the shuffle layout. Decimal partials re-combine
    * exactly (order-independent), so even the float sum hash-matches. */
  def saltedAggQuery(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    graft.core.Tables.lineitem(s, d)
      .withColumn("__salt",
        least(floor(rand(7) * 16).cast("int"), lit(15)))
      .groupBy(col("l_returnflag"), col("__salt"))
      .agg(count(lit(1)).as("__c"),
        sum(col("l_quantity").cast("decimal(28,6)")).as("__q"))
      .groupBy(col("l_returnflag"))
      .agg(sum("__c").as("n_items"),
        sum("__q").cast("double").as("sum_qty"))

  /** Target-file-size writer — the small-files antidote. A 100 TB corpus
    * written at the upstream task count lands as millions of KB-files
    * (every reader pays a task per file and the namenode pays the
    * metadata) or a handful of multi-GB files (no read parallelism, no
    * skipping granularity); the operational contract is "files of ~N
    * bytes, whatever the data volume". Sizes the output from Catalyst's
    * own size estimate (`optimizedPlan.stats` — the same number AQE
    * plans by) with a round-robin repartition, so file count grows
    * linearly with data and is independent of the INPUT layout. Returns
    * the file count it wrote. The in-memory estimate overshoots encoded
    * parquet bytes, so real files land safely UNDER target (never over —
    * the direction that preserves read parallelism). */
  def writeSizedFiles(df: DataFrame, path: String,
                      targetBytes: Long = 128L << 20): Int = {
    require(targetBytes > 0, "writeSizedFiles: targetBytes must be positive")
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val files = ((est + targetBytes - 1) / targetBytes)
      .min(BigInt(1 << 20)).max(BigInt(1)).toInt
    df.repartition(files).write.mode("overwrite").parquet(path)
    files
  }

  /** Broadcast-threshold-aware join helper: broadcasts the dimension when
    * its size estimate is under the session threshold, otherwise lets AQE
    * choose (never forces a huge broadcast). */
  def dimJoin(facts: DataFrame, dims: DataFrame, cond: Column): DataFrame = {
    // the TYPED conf accessor — the string form carries size suffixes
    // ("10MB") that a hand-rolled .toLong cannot parse
    val threshold = facts.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val est = dims.queryExecution.optimizedPlan.stats.sizeInBytes
    if (threshold > 0 && est <= threshold) facts.join(broadcast(dims), cond)
    else facts.join(dims, cond)
  }

  /** 32-bit Morton z-value of two 16-bit keys (bit interleave): rows close
    * in BOTH dimensions get close z-values, so a z-sorted parquet write
    * co-locates 2-D neighborhoods inside the same files/row groups — the
    * min/max stats of EVERY filtered column then prune the scan, where a
    * single-column sort serves only its own column. Pure shift/mask int64
    * arithmetic (codegen'd builtins, replayed verbatim by the DuckDB
    * oracle). Inputs are masked to their low 16 bits — callers bucket
    * wider domains first. */
  def zValue(x: Column, y: Column): Column = {
    def spread(c: Column): Column = {
      var v = c.bitwiseAND(lit(0xFFFFL))
      v = (v.bitwiseOR(shiftleft(v, 8))).bitwiseAND(lit(0x00FF00FFL))
      v = (v.bitwiseOR(shiftleft(v, 4))).bitwiseAND(lit(0x0F0F0F0FL))
      v = (v.bitwiseOR(shiftleft(v, 2))).bitwiseAND(lit(0x33333333L))
      v.bitwiseOR(shiftleft(v, 1)).bitwiseAND(lit(0x55555555L))
    }
    spread(x).bitwiseOR(shiftleft(spread(y), 1))
  }

  /** Z-ordered layout: range-partition + sort by the interleaved key, so
    * each output file covers a bounded rectangle of (x, y) — the layout
    * that lets parquet min/max skipping serve range filters on EITHER
    * dimension (Delta/Iceberg OPTIMIZE ZORDER, done with stock Spark). */
  def writeZOrdered(df: DataFrame, path: String, x: Column, y: Column,
                    files: Int = 64): Unit =
    df.withColumn("__z", zValue(x, y))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  // ------------------------------------------------------ bucketed join

  /** Bucketed fact tables, staged once per (session, sf dir) — the
    * storage-layout answer to the schema's biggest shuffle. Writing
    * lineitem and orders bucketed+sorted by the join key into the SAME
    * bucket count means every later equi-join on that key reads
    * co-located buckets and sort-merges with NO exchange on either side:
    * the join that would otherwise move both tables across the cluster
    * costs zero shuffle forever after — the bucketing contract a 100 TB
    * warehouse bakes into its fact tables. `repartition(buckets, key)`
    * before the write uses the same hash as the bucket spec, so each
    * bucket lands in exactly ONE file — the layout Spark requires to
    * trust the per-bucket sort and skip the join's sort step too. */
  private val stagedBucketedOnce =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  def gateBucketedTables(s: org.apache.spark.sql.SparkSession, d: String,
                         buckets: Int = 16): (String, String) = {
    // keyed per session (core.SessionKey): saveAsTable registers in the
    // SESSION catalog, so a fresh session (new test suite, new Verify
    // run) must re-stage even if the files survive in tmpdir
    val key = graft.core.SessionKey.of(s) + ":" + d
    stagedBucketedOnce.computeIfAbsent(key, _ => {
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      val lt = s"graft_bkt_lineitem_$digest"
      val ot = s"graft_bkt_orders_$digest"
      val root = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft-bkt-$digest").toString
      def stage(df: DataFrame, tbl: String, k: String): Unit =
        df.repartition(buckets, col(k))
          .write.mode("overwrite").bucketBy(buckets, k).sortBy(k)
          .option("path", s"$root/$tbl").format("parquet").saveAsTable(tbl)
      stage(graft.core.Tables.lineitem(s, d), lt, "l_orderkey")
      stage(graft.core.Tables.orders(s, d), ot, "o_orderkey")
      (lt, ot)
    })
  }

  /** Gate query (oracled): revenue per order priority off the BUCKETED
    * lineitem ⋈ orders join — identical result to the plain join the
    * DuckDB oracle runs, but the plan has no exchange under the join
    * (PlanQualitySpec pins it): both scans are bucket-co-located and
    * pre-sorted, so the only shuffle left is the 5-row priority agg. The
    * merge hint keeps the gate honest at bench SF (orders would
    * broadcast under the threshold and hide the layout being tested;
    * at 100 TB neither side broadcasts). */
  def bucketedJoinQuery(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val (lt, ot) = gateBucketedTables(s, d)
    s.table(lt).join(s.table(ot).hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        graft.query.Relational.exactSum(
          col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
  }

  /** Gate query (oracled): the z-value arithmetic over events, keyed by
    * (user_id, hour-bucket). The hour bucket is pmod-BEFORE-divide:
    * Spark's `div` truncates toward zero while floor semantics are wanted,
    * so reduce to the non-negative ring [0, 65536·3.6e9) first — there
    * truncation IS floor, in Spark and DuckDB alike, making the bucket
    * exact for pre-1970 (negative-micros) timestamps too. */
  def zorderQuery(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    graft.core.Tables.events(s, d)
      .select(col("event_id"),
        zValue(pmod(col("user_id"), lit(65536L)),
          expr(s"pmod(unix_micros(ts), ${3600000000L * 65536L}L) div 3600000000")).as("z"))

  /** Binned range join: `points` rows matched to `intervals` rows with
    * `lo <= point < hi` (half-open), WITHOUT the broadcast-nested-loop
    * plan Spark picks for a bare theta join — the O(|points|·|intervals|)
    * comparison space that melts at warehouse scale. Each interval
    * explodes to the fixed-width bins it overlaps, each point maps to its
    * one bin, and the match becomes a hash/sort-merge EQUI-join on the bin
    * id followed by the exact residual predicate. A pair can only meet in
    * the point's single bin, so no post-join dedup is needed.
    *
    * Cost model: shuffle volume is |points| + Σ⌈len/width⌉ per interval —
    * choose `binWidth` near the typical interval length so intervals
    * explode to ~2 bins. Long intervals fan out more rows but bound skew:
    * one giant interval becomes many bins instead of one hot join key.
    * Columns must be exact longs (epoch-µs, epoch-day, integer keys…);
    * values stay < 2^53 so the bin arithmetic is exact in any engine. */
  def rangeJoinBinned(points: DataFrame, pointCol: String,
                      intervals: DataFrame, loCol: String, hiCol: String,
                      binWidth: Long): DataFrame = {
    require(binWidth > 0, "rangeJoinBinned: binWidth must be positive")
    def bin(c: Column): Column = floor(c / binWidth).cast("long")
    val p = points.withColumn("__bin", bin(col(pointCol)))
    val i = intervals
      .filter(col(hiCol) > col(loCol)) // empty intervals match nothing
      .withColumn("__bin", explode(sequence(bin(col(loCol)), bin(col(hiCol) - 1))))
    p.join(i, Seq("__bin"))
      .filter(col(pointCol) >= col(loCol) && col(pointCol) < col(hiCol))
      .drop("__bin")
  }

  /** Bloom semi-join reduction: filter the FACT side through a fixed-size
    * Bloom synopsis of the dim keys BEFORE the join — the classic
    * shuffle-volume cut for a big-fact ⋈ selective-dim join. The bitmap
    * is one m/8-byte aggregate row broadcast to every fact partition; the
    * probe is a codegen'd per-row bit test, so non-matching facts die at
    * the scan side and never enter the join's exchange. Bloom
    * one-sidedness makes this EXACT: false positives just ride through to
    * the real join (which drops them), false negatives don't exist — the
    * output is the plain join's, row for row. At 1000 executors this is
    * the difference between shuffling 100 TB of facts and shuffling the
    * ~selectivity fraction that can possibly match.
    *
    * (Spark's own runtime bloom-join rewrite targets shuffle joins under
    * size thresholds; this explicit form works on any plan, pins the
    * synopsis size, and keeps the probe visible to plan tests.) */
  def bloomSemiJoin(facts: DataFrame, factKey: String,
                    dims: DataFrame, dimKey: String,
                    kHash: Int = 5, mBits: Int = 1 << 17): DataFrame = {
    import graft.functions.SketchExpressions.{bloom_bitmap, bloomMightContain}
    val bitmap = dims.agg(
      bloom_bitmap(col(dimKey).cast("string"), kHash, mBits).as("__bloom"))
    facts.crossJoin(broadcast(bitmap))
      .filter(bloomMightContain(col("__bloom"), col(factKey).cast("string"),
        kHash, mBits))
      .drop("__bloom")
      .join(dims, col(factKey) === col(dimKey))
  }

  /** Gate query (oracled): revenue through a deterministic ~9% supplier
    * slice — the selective-dim shape where the Bloom prefilter pays: most
    * lineitems never reach the join. (A key-mod slice, not an acctbal
    * cut: it is non-empty at every SF.) The oracle is the PLAIN join
    * (the prefilter is semantics-free). */
  def bloomJoinQuery(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val dims = graft.core.Tables.supplier(s, d)
      .filter(col("s_suppkey") % 11 === 3)
      .select(col("s_suppkey"), col("s_nationkey"))
    bloomSemiJoin(graft.core.Tables.lineitem(s, d), "l_suppkey", dims, "s_suppkey")
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_items"),
        graft.query.Relational.exactSum(
          col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
  }

  /** Gate query (oracled): ship-date activity inside a 1-in-100 audit
    * sample of urgent orders' 14-day fulfilment windows — points are
    * lineitem ship timestamps, intervals [o_orderdate, +14d), both exact
    * epoch-µs longs; 14-day bins keep interval fan-out at ≤ 2 bins each.
    * The audit sample bounds interval DENSITY, which is what governs this
    * join's output: every point matches every interval covering it, so
    * with D overlapping intervals per instant the result is |points|·D
    * rows no matter how it's executed — a capability to spend
    * deliberately (audits, windows around rare events), not a default.
    * The unsampled urgent set at sf0.1 is ~175 deep over the whole date
    * range — a 100M-row answer nobody asked for. */
  def rangeJoinQuery(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val day = 86400L * 1000000L
    // PRE-AGGREGATE below the range join: the matched-pair multiset is
    // inherently |points|·D (D = interval density), and on a 10×-denser
    // corpus that is 100× pairs — the r15 full-registry ritual measured
    // 32× wall at 10× data on the raw-points spelling. But this query is
    // an INTERVAL AGGREGATE, and both sides are day-aligned (l_shipdate
    // and o_orderdate are DATEs, windows are whole days), so a day's
    // points are either all in or all out of a window: collapse points to
    // one (day, count, exact partial sum) row each — a few-thousand-row
    // table at ANY corpus size — and range-join THAT. Work drops to
    // |points| (one pre-agg pass) + |intervals|·(days/bin fan): linear.
    // count = Σ day counts and exactSum is an order-independent decimal,
    // so the values are bit-identical to the raw-pair spelling and the
    // naive-join DuckDB oracle replays unchanged. rangeJoinBinned itself
    // still produces raw PAIRS for queries that need them — spend that
    // deliberately; aggregate queries should push the aggregate below.
    val points = graft.core.Tables.lineitem(s, d)
      .select(unix_micros(col("l_shipdate").cast("timestamp")).as("x"),
        col("l_quantity"))
      .groupBy("x")
      // partials stay RAW DECIMAL — exactSum's trailing double cast must
      // happen exactly once, on the final total, or the day-level doubles
      // would re-sum order-dependently
      .agg(count(lit(1)).as("__n"),
        sum(col("l_quantity").cast("decimal(28,6)")).as("__s"))
    val intervals = graft.core.Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderkey") % 100 === 7)
      .select(col("o_orderkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("lo"))
      .withColumn("hi", col("lo") + lit(14L * day))
    rangeJoinBinned(points, "x", intervals, "lo", "hi", binWidth = 14L * day)
      .groupBy("o_orderkey")
      .agg(sum(col("__n")).as("n_in_window"),
        sum(col("__s")).cast("double").as("sum_qty"))
  }
}
