package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Exact global ranking without a single-partition window.
  *
  * `Window.orderBy(...)` with no partition key moves the ENTIRE input
  * to one task (Spark warns and serializes) — fine for a bounded
  * series, fatal for a table-sized rank at scale. This operator gets
  * the same exact answer with every stage parallel, via two
  * interchangeable strategies (property-tested equal):
  *
  * '''pinned''' (`withRowNumber` / `withPrefixSum` / `withNtile`):
  * the bucket id is a PURE ROW FUNCTION — sample the sort key once
  * (hash-top-k, a narrow column-pruned pass), pick ≤ p-1 boundary
  * cut rows, and compile them into a codegen'd lexicographic-compare
  * expression. Because every pass
  * derives the bucket from row VALUES, the per-bucket counts/offsets
  * and the final windowed join agree structurally — no shared
  * physical partition assignment to protect, hence NO CACHE. Cost
  * shape: two narrow passes over the key columns (boundary sample +
  * bucket counts; both prune to the sort key at the scan) plus ONE
  * full-width shuffle (the per-bucket window). At 100 TB the narrow
  * passes read a few key columns while the corpus crosses the wire
  * exactly once and nothing corpus-sized is materialized.
  *
  * '''persist''': `repartitionByRange` on the sort key, then persist
  * the ranged frame so the counts/offsets branch and the join branch
  * read ONE physical partition assignment (exchange reuse does NOT
  * deliver that — the branches carry self-join-style fresh exprIds
  * and each would re-sample its own range boundaries, the round-11
  * mis-rank hazard). One full shuffle, but the ranked frame is
  * materialized in the block store. The right trade when the INPUT
  * IS EXPENSIVE to recompute (the pinned form re-executes the
  * upstream plan for its two narrow passes; a heavy upstream
  * aggregation or join may dwarf the cache cost) — persist it
  * explicitly or call the `with*Persist` variant for that call.
  *
  * Ranks are total-order exact when the sort key is unique (pass a
  * tiebreaker column, as any deterministic global rank requires).
  * Rows with equal sort keys always share a bucket in both
  * strategies, so ties never straddle an offset boundary. The pinned
  * form is additionally robust to nondeterministic INPUT ORDER
  * between its passes (bucket membership depends on values, not on
  * which task saw the row); only a changing row multiset between
  * passes breaks it, which breaks any multi-pass query.
  *
  * NTILE derives from (rank, n) arithmetically — SQL semantics: the
  * first n mod k buckets get ceil(n/k) rows, the rest floor(n/k).
  * In the pinned form the total n rides the (tiny) offsets frame, so
  * ntile costs NO extra pass over the input. */
object GlobalRank {

  /** A single-partition window key that SURVIVES the optimizer:
    * `pmod(c, 1)` is 0 for every (non-null, non-negative) row of `c`,
    * so the window still sees one partition — but unlike
    * `partitionBy(lit(0))`, which constant-folds to an EMPTY partition
    * spec, the column reference keeps the spec non-empty, so WindowExec
    * does not log its move-everything warning. For the windows this
    * library applies it to, single-partition is CORRECT and bounded by
    * construction (k post-limit rows, one row per shuffle partition);
    * the warning would be noise drowning out real regressions. */
  def onePartitionKey(c: Column): Column = pmod(c, lit(1))

  private def defaultP(df: DataFrame, partitions: Int): Int =
    if (partitions > 0) partitions
    else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt

  // ---------------------------------------------------------------
  // sort-spec parsing (via the one-object GraftSortBridge gateway)
  // ---------------------------------------------------------------

  private final case class KeySpec(child: Column, desc: Boolean, nullsFirst: Boolean)

  private def specsOf(order: Seq[Column]): Seq[KeySpec] =
    order.map { c =>
      val (child, desc, nullsFirst) = org.apache.spark.sql.GraftSortBridge.sortSpec(c)
      KeySpec(child, desc, nullsFirst)
    }

  private def applyDir(c: Column, s: KeySpec): Column = (s.desc, s.nullsFirst) match {
    case (false, true)  => c.asc_nulls_first
    case (false, false) => c.asc_nulls_last
    case (true, true)   => c.desc_nulls_first
    case (true, false)  => c.desc_nulls_last
  }

  // ---------------------------------------------------------------
  // pinned strategy internals
  // ---------------------------------------------------------------

  /** Compile a bucket-id column: sample the sort key (hash-top-k —
    * TakeOrderedAndProject, parallel, no full sort, column-pruned
    * scan), pick ≤ p-1 boundary cut tuples, and wrap them in the
    * native [[graft.plans.RankBucket]] expression — ONE binary
    * search per row inside whole-stage codegen (the composable
    * CASE-WHEN-chain form cost ~2.9 µs/row at p=32, 10x the whole
    * query). Boundary PLACEMENT (the sample draw) only affects
    * balance, never rank values: any monotone value-derived
    * bucketing yields the same final ranks. Deterministic given a
    * fixed input multiset. */
  private def bucketColumn(df: DataFrame, specs: Seq[KeySpec], p: Int): Column = {
    val keys = df.select(specs.zipWithIndex.map {
      case (s, i) => s.child.as(s"__k$i") }: _*)
    val types = keys.schema.map(_.dataType).toArray
    // sample target well under the TakeOrderedAndProject fallback
    // threshold (spark.sql.execution.topKSortFallbackThreshold, 10k)
    val k = math.min(math.max(p * 20, 1024), 8192)
    val h = xxhash64(keys.columns.map(col) :+ lit("graft-rank-cuts"): _*)
    // executeCollect: CATALYST values (UTF8String/Decimal/...), the
    // same representation the expression's children evaluate to
    val sorted = keys.orderBy(h.asc_nulls_last).limit(k)
      .sort(specs.zipWithIndex.map { case (s, i) =>
        applyDir(col(s"__k$i"), s) }: _*)
      .queryExecution.executedPlan.executeCollect()
    val m = sorted.length
    val idx = (1 until p).map(i => (i.toLong * m / p).toInt)
      .filter(j => j > 0 && j < m).distinct
    val raw = idx.map { j =>
      Array.tabulate[Any](types.length)(i => sorted(j).get(i, types(i)))
    }
    // drop value-duplicate cuts (heavy ties): duplicate boundaries
    // would add empty buckets, never wrong ranks
    val cuts = raw.foldLeft(Vector.empty[Array[Any]]) {
      case (acc, r) if acc.nonEmpty &&
        acc.last.indices.forall(i => java.util.Objects.equals(acc.last(i), r(i))) => acc
      case (acc, r) => acc :+ r
    }.toArray
    if (cuts.isEmpty) {
      // Only reachable for trivial inputs: m <= 1 (empty/one-row
      // sample) or p == 1 — the interior-index set (i*m/p for
      // 0 < i < p) is provably non-empty whenever m >= 2 and p >= 2,
      // so a constant sort key does NOT land here (its boundaries
      // dedup to ONE cut below). One bucket is correct and
      // unalarming at this size.
      return lit(0)
    }
    // The silent-hazard case on a NON-trivial input: the sampled
    // boundaries collapsed because the sort key is constant or
    // near-constant — (almost) every row lands on one side of the
    // lone cut and the final window runs as one giant task, exactly
    // the serialization this operator exists to avoid. Correct
    // (ranks are still exact), so don't fail; warn instead: the fix
    // is a caller-side tiebreaker column (restores spread) — falling
    // back to persist would not help, since repartitionByRange
    // samples the same constant key into the same single range.
    // Constancy is detected DIRECTLY (whole sample's first == last
    // tuple, or >1 interior boundary index collapsing to 1 cut) —
    // the former `cuts.length == 1 && m > p` test fired spuriously
    // whenever p == 2, where ONE cut is the EXPECTED count (p-1 = 1
    // interior boundary) for any well-spread key with m > 2.
    def rowVals(r: org.apache.spark.sql.catalyst.InternalRow) =
      Array.tabulate[Any](types.length)(i => r.get(i, types(i)))
    val sampleConstant = m > 1 && {
      val hd = rowVals(sorted.head); val tl = rowVals(sorted.last)
      hd.indices.forall(i => java.util.Objects.equals(hd(i), tl(i)))
    }
    if (sampleConstant || (raw.length > 1 && cuts.length == 1))
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"GlobalRank: all $m sampled sort-key boundaries collapsed to " +
          "one distinct tuple — the key is (near-)constant, so the " +
          "final window will run as a single-partition sort. Add a " +
          "tiebreaker column (e.g. a unique id) to the sort key to " +
          "restore parallelism.")
    val searcher = new graft.plans.CutSearcher(cuts, types,
      specs.map(_.desc).toArray, specs.map(_.nullsFirst).toArray)
    org.apache.spark.sql.GraftSortBridge.columnOf(
      graft.plans.RankBucket(
        specs.map(s => org.apache.spark.sql.GraftSortBridge.expressionOf(s.child)),
        searcher))
  }

  /** Shared pinned core: bucket-tag, per-bucket aggregate (narrow
    * pass — the projection prunes to the sort-key columns), exclusive
    * prefix offsets + global total over the tiny per-bucket frame,
    * then ONE full shuffle for the per-bucket window, offsets joined
    * back by broadcast. `valueCol` switches the offset payload
    * between row counts (rank) and value sums (prefix sum). */
  private def pinnedCore(df: DataFrame, order: Seq[Column], out: String,
      partitions: Int, valueCol: Option[Column]): DataFrame = {
    val specs = specsOf(order)
    val p = defaultP(df, partitions)
    val bucket = bucketColumn(df, specs, p)
    val tagged = valueCol.fold(df)(v => df.withColumn("__v", v))
      .withColumn("__pid", bucket)
    val per = valueCol.fold(tagged.select(col("__pid")))(
        _ => tagged.select(col("__pid"), col("__v")))
      .groupBy("__pid")
      .agg(valueCol.fold(count(lit(1)))(_ => sum(col("__v"))).as("__c"))
    val w = Window.partitionBy(onePartitionKey(col("__pid"))).orderBy("__pid")
    val offsets = per
      .withColumn("__off", coalesce(sum("__c").over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__n", sum("__c").over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select("__pid", "__off", "__n")
    val perPart = valueCol.fold(
        Window.partitionBy("__pid").orderBy(order: _*))(
        _ => Window.partitionBy("__pid").orderBy(order: _*)
          .rowsBetween(Window.unboundedPreceding, 0))
    val metric = valueCol.fold(row_number().over(perPart): Column)(
        _ => sum(col("__v")).over(perPart))
    tagged.join(broadcast(offsets), "__pid")
      .withColumn(out, col("__off") + metric)
  }

  /** Pinned-boundary exact global row_number — see class doc. */
  def withRowNumberPinned(df: DataFrame, order: Seq[Column],
      out: String = "rn", partitions: Int = 0): DataFrame =
    pinnedCore(df, order, out, partitions, None)
      .drop("__pid", "__off", "__n")

  /** Pinned-boundary exact global inclusive prefix sum. */
  def withPrefixSumPinned(df: DataFrame, value: Column, order: Seq[Column],
      out: String = "cum", partitions: Int = 0): DataFrame =
    pinnedCore(df, order, out, partitions, Some(value))
      .drop("__pid", "__off", "__n", "__v")

  /** Pinned-boundary exact NTILE: the global total rides the tiny
    * offsets frame (`__n`), so this costs NO extra pass over the
    * input — unlike the persist form's separate count. */
  def withNtilePinned(df: DataFrame, buckets: Int, order: Seq[Column],
      out: String = "ntile", partitions: Int = 0): DataFrame = {
    require(buckets > 0, s"ntile buckets must be positive: $buckets")
    val rn = pinnedCore(df, order, "__rn", partitions, None)
    rn.withColumn(out, ntileOf(col("__rn"), col("__n"), buckets))
      .drop("__pid", "__off", "__n", "__rn")
  }

  /** SQL NTILE arithmetic from (rank, total): the first n mod k
    * buckets get ceil(n/k) rows, the rest floor(n/k). Integer
    * division via double floor — exact for counts < 2^52. */
  private def ntileOf(rn: Column, n: Column, buckets: Int): Column = {
    def idiv(a: Column, b: Column): Column =
      floor(a.cast("double") / b.cast("double")).cast("long")
    val size = idiv(n, lit(buckets.toLong))
    val extra = n % buckets
    val bigSpan = (size + 1) * extra
    // `greatest(size,1)` only guards the branch unreachable at size=0
    val bucket0 = when(rn <= bigSpan, idiv(rn - 1, size + 1))
      .otherwise(extra + idiv(rn - 1 - bigSpan, greatest(size, lit(1L))))
    (bucket0 + 1).cast("int")
  }

  // ---------------------------------------------------------------
  // persist strategy (the round-11 form)
  // ---------------------------------------------------------------

  /** Persist-strategy row_number: range exchange + persisted shared
    * frame — both branches read ONE InMemoryRelation (plan invariant
    * guarded by PlanShapeSpec). Prefer when the upstream plan is
    * expensive to recompute; costs a corpus-sized cache. */
  def withRowNumberPersist(df: DataFrame, order: Seq[Column],
      out: String = "rn", partitions: Int = 0): DataFrame = {
    val p = defaultP(df, partitions)
    val ranged = df.repartitionByRange(p, order: _*)
      .withColumn("__pid", spark_partition_id())
      // shared materialization point — see the strategy doc above
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // one row per partition — bounded, its global window is safe
    val counts = ranged.groupBy("__pid").agg(count(lit(1)).as("__c"))
    val offsets = counts.withColumn("__off",
        coalesce(sum("__c").over(
          Window.partitionBy(onePartitionKey(col("__pid"))).orderBy("__pid")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__pid", "__off")
    val perPart = Window.partitionBy("__pid").orderBy(order: _*)
    ranged.join(broadcast(offsets), "__pid")
      .withColumn(out, col("__off") + row_number().over(perPart))
      .drop("__pid", "__off")
  }

  /** Persist-strategy inclusive prefix sum (see [[withRowNumberPersist]]). */
  def withPrefixSumPersist(df: DataFrame, value: Column, order: Seq[Column],
      out: String = "cum", partitions: Int = 0): DataFrame = {
    val p = defaultP(df, partitions)
    val ranged = df.repartitionByRange(p, order: _*)
      .withColumn("__v", value)
      .withColumn("__pid", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val sums = ranged.groupBy("__pid").agg(sum("__v").as("__s"))
    val offsets = sums.withColumn("__off",
        coalesce(sum("__s").over(
          Window.partitionBy(onePartitionKey(col("__pid"))).orderBy("__pid")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__pid", "__off")
    val perPart = Window.partitionBy("__pid").orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    ranged.join(broadcast(offsets), "__pid")
      .withColumn(out, col("__off") + sum("__v").over(perPart))
      .drop("__pid", "__off", "__v")
  }

  /** Persist-strategy NTILE: ranks via [[withRowNumberPersist]], the
    * total from one extra count of the INPUT (not the ranked output —
    * aggregating rn would execute the whole rank machinery twice). */
  def withNtilePersist(df: DataFrame, buckets: Int, order: Seq[Column],
      out: String = "ntile", partitions: Int = 0): DataFrame = {
    require(buckets > 0, s"ntile buckets must be positive: $buckets")
    val rn = withRowNumberPersist(df, order, "__rn", partitions)
    val n = df.agg(count(lit(1)).as("__n"))
    rn.crossJoin(broadcast(n))
      .withColumn(out, ntileOf(col("__rn"), col("__n"), buckets))
      .drop("__rn", "__n")
  }

  // ---------------------------------------------------------------
  // public API — the pinned strategy
  //
  // CALLER CONTRACT: calling any of these launches
  // an EAGER Spark job at plan-construction time (the boundary
  // sample's executeCollect, bounded at ≤8,192 key tuples) and the
  // returned plan RE-EXECUTES the upstream for the two narrow
  // auxiliary passes. Two consequences:
  //   1. An upstream with an unstable row MULTISET across executions
  //      (df.sample() without a seed, LIMIT without ORDER BY) yields
  //      wrong ranks — the passes disagree on membership. Persist the
  //      upstream first, or use the *Persist variants, which read one
  //      materialized assignment and are immune.
  //   2. An EXPENSIVE upstream (heavy aggregate/join) is recomputed
  //      2× column-pruned + 1× full — persist it, or call the
  //      *Persist variant, when that dominates.
  // (Also in README "Global-rank strategies" — keep the two in sync.)
  // ---------------------------------------------------------------

  /** Append `out` = exact global row_number under `order`.
    * See the caller contract above: eager boundary-sample job at call
    * time; upstream re-executed for the auxiliary passes — persist a
    * nondeterministic or expensive upstream, or use
    * [[withRowNumberPersist]]. */
  def withRowNumber(df: DataFrame, order: Seq[Column],
      out: String = "rn", partitions: Int = 0): DataFrame =
    withRowNumberPinned(df, order, out, partitions)

  /** Append `out` = exact global INCLUSIVE prefix sum of `value`
    * under `order` (`ROWS UNBOUNDED PRECEDING` semantics — exact when
    * the sort key is unique; pass a tiebreaker). The
    * weighted-systematic-sampling and sequence-packing operators
    * build on this. Caller contract above applies (eager sample job;
    * upstream re-executed — see [[withPrefixSumPersist]]). */
  def withPrefixSum(df: DataFrame, value: Column, order: Seq[Column],
      out: String = "cum", partitions: Int = 0): DataFrame =
    withPrefixSumPinned(df, value, order, out, partitions)

  /** Append `out` = exact NTILE(buckets) under `order` (SQL
    * semantics, same rows-per-bucket split as the window function).
    * Caller contract above applies (eager sample job; upstream
    * re-executed — see [[withNtilePersist]]). */
  def withNtile(df: DataFrame, buckets: Int, order: Seq[Column],
      out: String = "ntile", partitions: Int = 0): DataFrame =
    withNtilePinned(df, buckets, order, out, partitions)
}
