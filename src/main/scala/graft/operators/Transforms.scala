package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's template algebra (SURVEY §2.2, T1-T14) as pure
  * `DataFrame => DataFrame` combinators. Each is a thin, declarative wrapper
  * over Catalyst operators, so column pruning / predicate pushdown / codegen
  * all apply — the reference executes its templates row-at-a-time on one
  * thread; these run distributed and columnar.
  */
object Transforms {

  /** T1 — array flatten: one output row per array element
    * (reference `transform_bucket.json.tmpl:2` `range .buckets`). */
  def explodeArray(df: DataFrame, arrayCol: String, as: String): DataFrame =
    df.select(explode(col(arrayCol)).as(as))

  /** T3 — projection + rename (`id` → `external_id` etc.,
    * reference `transform_bucket.json.tmpl:5-10`). */
  def projectRename(df: DataFrame, mapping: (String, String)*): DataFrame =
    df.select(mapping.map { case (from, to) => col(from).as(to) }: _*)

  /** T6 — edge-pair construction: `(a_id, b_id)` = (parent key, child key)
    * (reference `transform_org_project_R.json.tmpl:5-6`). Values cast to
    * string: every template-emitted property is a string (SURVEY §1.2). */
  def edgePairs(df: DataFrame, aKey: Column, bKey: Column): DataFrame =
    df.select(aKey.cast("string").as("a_id"), bKey.cast("string").as("b_id"))

  /** T13 — dedup by key. The reference emits one org/project row per bucket
    * and relies on Neo4j `MERGE` to collapse them
    * (`transform_organization.json.tmpl:2-6` + `neo4j.go:87`). Rows with the
    * same key are identical projections in the reference, so plain distinct
    * keyed dedup is faithful. */
  def dedupByKey(df: DataFrame, key: String = "external_id"): DataFrame =
    df.dropDuplicates(key)

  /** T14/K1 — last-wins upsert semantics on key conflict
    * (`neo4j.go:87-88`: `MERGE … SET x = item`, last processed row wins and
    * replaces all properties). The reference's "last" is batch order; a
    * distributed engine needs an explicit ordering, so callers pass the
    * tiebreak. One shuffle on the key; at scale this is the same hash
    * partitioning the downstream keyed sink wants, so it is reused, not
    * repeated. */
  def lastWinsByKey(df: DataFrame, key: String, order: Column*): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** [[lastWinsByKey]] as an AGGREGATE for the common case where the
    * winner is the row maximizing a tuple of columns (descending):
    * `max_by(struct(payload), struct(rank))`, two-phase. The property that
    * matters at 100 TB is the partial phase: duplicate keys collapse
    * BEFORE the shuffle, so the exchange moves one row per
    * (key × input partition) instead of every input row — the window form
    * shuffles everything and then sorts it. (Spark plans max_by-over-struct
    * as SortAggregate — struct buffers can't hash-aggregate — so
    * per-partition sorts of the narrow projection remain; the shuffle
    * reduction is the win, asserted in PlanShapeSpec.)
    * Equivalence: `max` over `struct(rankCols)` is lexicographic-greatest,
    * i.e. row_number()=1 under `rankCols.desc`; rows tying on ALL rank
    * columns are interchangeable in both forms (window tie order is
    * partition-dependent too), so use rank columns that determine the
    * payload when determinism matters. Asserted equal to the window form
    * in OperatorsSpec.
    * Null contract: a null rank value sorts SMALLEST (struct comparison is
    * ascending nulls-first, so `max` prefers any non-null) — matching the
    * window form's `.desc` default of NULLS LAST. A group whose rank
    * columns are all null still emits exactly one (tie-broken) row; the
    * struct wrapper is what guarantees this — a bare `max_by(payload,
    * rank)` would skip null-rank rows entirely and return a NULL winner
    * for all-null groups. Asserted in OperatorsSpec. */
  def lastWinsByKeyAgg(df: DataFrame, key: String,
      rankCols: Column*): DataFrame = {
    val payload = struct(df.columns.map(col).toIndexedSeq: _*)
    df.groupBy(col(key).as("__k"))
      .agg(max_by(payload, struct(rankCols: _*)).as("__w"))
      .select(df.columns.map(c => col(s"__w.$c")).toIndexedSeq: _*)
  }

  /** Input-split rebalance, applied only when the plan's current
    * partitioning is too narrow to use the cluster: a single non-splittable
    * input file (one parquet row group) serializes every fused per-row
    * stage into one task, and a cheap shuffle of the raw rows buys full
    * parallelism for the expensive stage that follows. Skipped when the
    * input is already split wide enough — then the added exchange would
    * only move data the downstream aggregate could map-side combine first.
    * (Operators whose downstream shuffle is STRICTLY bigger than the raw
    * rows — e.g. shingle explosion feeding a window — rebalance
    * unconditionally instead; see [[Dedup.shingleInv]].) */
  def rebalanceIfNarrow(df: DataFrame, key: Column): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // EXPLICIT partition count: this exchange exists to parallelize
    // expensive per-row work, and the inputs that need it are narrow in
    // BYTES — AQE would coalesce a bare repartition(key) right back to
    // one task (measured: 3.2 s single-task vs 0.4 s at 32 — the aHash
    // pixel synthesis), exactly defeating the point. An explicit count
    // is exempt from AQE coalescing.
    if (df.rdd.getNumPartitions * 2 <= target) df.repartition(target, key)
    else df
  }

  /** The UNCONDITIONAL-rebalance sibling of [[rebalanceIfNarrow]] for
    * operators whose downstream shuffle is strictly bigger than the raw
    * rows (shingle/token explodes feeding an id-keyed window): the keyed
    * pre-explode repartition must always exist — it replaces the larger
    * post-explode exchange — but a bare `repartition(key)` is
    * AQE-coalescible, and on a narrow-in-BYTES input (one parquet row
    * group: the sf fixtures, small dimension files, fresh single-file
    * drops) AQE coalesces it right back to ONE task and the whole
    * explode+window pipeline serializes (measured round-17:
    * `kn3_logprob` 2.7 s over 10 single-task stages at 32 idle cores).
    * Narrow input → explicit count (AQE-exempt, parallelizes the
    * per-row work); already-wide input → keyed repartition exactly as
    * before (AQE keeps sizing it from measured bytes — the right plan
    * at cluster scale, where inputs arrive pre-split). */
  def keyedInputRebalance(df: DataFrame, key: Column): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 <= target) df.repartition(target, key)
    else df.repartition(key)
  }

  /** Skew-safe equi-join: salt the skewed (big, hot-keyed) side into
    * `saltBuckets` sub-keys and explode the small side across all buckets.
    * AQE's skew-join handles moderate skew on its own; explicit salting is
    * for the pathological hot key (one key = a whole partition's worth of
    * rows) where even a split shuffle block leaves a straggler. Cost:
    * small side replicated ×saltBuckets — use only when small side
    * broadcast is impossible (both sides large) AND a hot key exists. */
  def saltedJoin(skewed: DataFrame, other: DataFrame, key: String,
      saltBuckets: Int, joinType: String = "inner"): DataFrame = {
    // outer-on-the-exploded-side types would emit saltBuckets copies of
    // every unmatched `other` row — only these two types are sound:
    require(joinType == "inner" || joinType == "left",
      s"saltedJoin supports inner/left, got $joinType")
    val salted = skewed.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(),
        lit(saltBuckets)).cast("int"))
    val exploded = other.withColumn("__salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    salted.join(exploded, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** T11 generalized — top-k per group (the reference only ever takes the
    * API-provided head element `latest_version`,
    * `transform_version.json.tmpl:4`; the general capability is top-k).
    * Window + row_number: single shuffle on the group key, no global sort. */
  def topKPerGroup(df: DataFrame, groupCols: Seq[Column], order: Seq[Column],
      k: Int): DataFrame = {
    val w = Window.partitionBy(groupCols: _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Trailing-value rolling sum: RANGE frame `[order - lookback, order]`
    * over a numeric order column (epoch seconds, sequence numbers…). The
    * frame is VALUE-bounded, not row-bounded — rows tied on `orderCol` all
    * see the same frame and contribute to each other, so the result is
    * independent of intra-tie ordering and therefore exact under any
    * partitioning/parallelism (a ROWS frame would not be). One shuffle on
    * the partition key; the frame itself is a single sorted scan with a
    * sliding aggregate, never O(n·window). */
  def rollingSum(df: DataFrame, partitionCol: String, orderCol: String,
      valueCol: String, lookback: Long, as: String): DataFrame = {
    val w = Window.partitionBy(col(partitionCol))
      .orderBy(col(orderCol)).rangeBetween(-lookback, 0)
    df.withColumn(as, sum(col(valueCol)).over(w))
  }

  /** SCD Type-2 interval build: turn a change log (one row per version of an
    * entity) into versioned dimension rows with half-open validity
    * intervals `[eff_from, eff_to)` and an `is_current` flag — the standard
    * warehouse shape the reference's last-wins upsert (T14) collapses away.
    * `eff_from` is the version's own effective value; `eff_to` is the NEXT
    * version's `eff_from` (`lead` over the per-key version order), null on
    * the open head. One window pass = one shuffle on the entity key; the
    * per-key sort is local. `versionOrder` must be a total order within a
    * key (include a tiebreaker id) or the chain is nondeterministic. */
  def scdType2(df: DataFrame, keyCols: Seq[Column], versionOrder: Seq[Column],
      effFrom: Column): DataFrame = {
    val w = Window.partitionBy(keyCols: _*).orderBy(versionOrder: _*)
    df.withColumn("eff_from", effFrom)
      .withColumn("eff_to", lead(col("eff_from"), 1).over(w))
      .withColumn("is_current",
        when(col("eff_to").isNull, 1L).otherwise(0L))
  }

  /** Winsorized (clamped-tail) sum: robust aggregation that clamps each
    * value into its group's exact `[pLo, pHi]` percentile band before
    * summing, so a handful of corrupt extreme rows can't dominate a corpus
    * statistic. Two scans by construction (percentiles need the full group
    * before any row can be clamped), but the stats side collapses to
    * |groups| rows and is broadcast back — the data itself shuffles only
    * for the final partial-combined aggregate. `valueCol` must already be
    * integral (cents/micros): the clamp and sum stay in BIGINT, so the
    * result is order-exact under any parallelism. */
  def winsorizedSum(df: DataFrame, groupCol: String, valueCol: String,
      pLo: Double, pHi: Double): DataFrame = {
    val stats = df.groupBy(col(groupCol))
      .agg(round(expr(s"percentile($valueCol, $pLo)")).cast("long").as("__lo"),
        round(expr(s"percentile($valueCol, $pHi)")).cast("long").as("__hi"))
    df.join(broadcast(stats), groupCol)
      .select(col(groupCol),
        least(greatest(col(valueCol), col("__lo")), col("__hi")).as("__c"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col("__c")).as("sum_clamped"))
  }

  /** kσ outlier census per group in arbitrary-scale integer math: a value
    * is flagged when (v·n − Σv)² > k²·(n·Σv² − (Σv)²) — the 3σ rule with
    * both sides multiplied out to integers, so no float mean/σ is ever
    * computed and the census is bit-identical on any engine or
    * parallelism. Sufficient statistics and the comparison run in
    * DECIMAL(38,0): v·n up to ~10^17 squares to 10^34, still inside the
    * 38-digit range, so the math is exact far past BIGINT scale. Same
    * two-scan broadcast-back shape as [[winsorizedSum]] — the stats side
    * is |groups| rows, the data shuffles only for the final census
    * aggregate. */
  def sigmaOutlierCensus(df: DataFrame, groupCol: String, valueCol: String,
      k: Int): DataFrame = {
    val dv = col(valueCol).cast("decimal(38,0)")
    val stats = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("__n"), sum(dv).as("__sv"),
        sum(dv * col(valueCol)).as("__svv"))
    val lhs = dv * col("__n") - col("__sv")
    val rhs = (col("__n") * col("__svv") - col("__sv") * col("__sv")) *
      lit(k * k)
    df.join(broadcast(stats), groupCol)
      .groupBy(col(groupCol))
      .agg(sum(when(lhs * lhs > rhs, 1L).otherwise(0L)).as("n_outliers"),
        count(lit(1)).as("n"))
  }

  /** 8-bit × 8-bit Morton (Z-order) interleave: maps two bucketed
    * dimensions into one locality-preserving 16-bit curve value. Writing a
    * table range-partitioned/sorted by `zValue8` clusters rows that are
    * near in BOTH dimensions into the same files, so min/max footer
    * statistics prune scans for 2-D predicates (date × customer, lat ×
    * lon) — the layout trick behind Delta/Iceberg Z-ordering, as pure
    * column arithmetic. Inputs are masked to 8 bits; the bit-spread uses
    * the classic shift-or-mask ladder (3 steps, codegen-friendly, no UDF).
    */
  def zValue8(x: Column, y: Column): Column = {
    def spread(v: Column): Column = {
      val m = v.cast("long").bitwiseAND(lit(255L))
      val a = m.bitwiseOR(shiftleft(m, 4)).bitwiseAND(lit(0x0F0FL))
      val b = a.bitwiseOR(shiftleft(a, 2)).bitwiseAND(lit(0x3333L))
      b.bitwiseOR(shiftleft(b, 1)).bitwiseAND(lit(0x5555L))
    }
    spread(x).bitwiseOR(shiftleft(spread(y), 1))
  }

  /** 8-bit × 8-bit Hilbert curve index (Hilbert 1891; the iterative
    * xy2d form): maps two bucketed dimensions to one 16-bit curve value
    * like [[zValue8]], but with the Hilbert guarantee that CONSECUTIVE
    * curve values are always grid neighbors — no Z-shape jumps — which
    * gives measurably better min/max-footer pruning for 2-D range
    * predicates (the "Z-order v2" layout in modern lakehouse writers).
    *
    * Implementation: the classic 8-round reflect-and-swap recurrence,
    * one projection stage per bit level (quadrant digit (3·rx)⊕ry scaled
    * by s², then the ry=0 reflect/swap rotation). Chained `withColumn`
    * stages keep every intermediate a named column — linear expression
    * growth, pure integer arithmetic, zero shuffle, no UDF — and the
    * per-stage schedule is what the DuckDB twin replays verbatim. */
  def hilbertD8(df: DataFrame, x: Column, y: Column,
      out: String): DataFrame = {
    var d = df
      .withColumn("__hx", x.cast("long").bitwiseAND(lit(255L)))
      .withColumn("__hy", y.cast("long").bitwiseAND(lit(255L)))
      .withColumn(out, lit(0L))
    for (bit <- 7 to 0 by -1) {
      val s = 1L << bit
      d = d
        .withColumn("__rx",
          when(col("__hx").bitwiseAND(lit(s)) > 0, 1L).otherwise(0L))
        .withColumn("__ry",
          when(col("__hy").bitwiseAND(lit(s)) > 0, 1L).otherwise(0L))
        .withColumn(out, col(out) +
          lit(s * s) * (lit(3L) * col("__rx")).bitwiseXOR(col("__ry")))
        .withColumn("__nx", when(col("__ry") === 0,
            when(col("__rx") === 1, lit(255L) - col("__hy"))
              .otherwise(col("__hy")))
          .otherwise(col("__hx")))
        .withColumn("__hy", when(col("__ry") === 0,
            when(col("__rx") === 1, lit(255L) - col("__hx"))
              .otherwise(col("__hx")))
          .otherwise(col("__hy")))
        .withColumn("__hx", col("__nx"))
    }
    d.drop("__hx", "__hy", "__rx", "__ry", "__nx")
  }

  /** Distributed ordered prefix sum (running total under a global order)
    * WITHOUT a single-partition window: rows are bucketed by
    * `coarseBucket` (any monotone function of the order key — e.g.
    * `key DIV 128`), per-bucket totals are prefix-summed on the tiny
    * |buckets|-row frame, and each row adds its bucket's offset to a
    * within-bucket running sum. Two aggregates + one broadcast join + one
    * window partitioned by bucket — every data-sized operation
    * parallelizes across buckets, which is the textbook two-pass scan
    * fix for Spark's "window over ORDER BY whole table = one partition"
    * trap. Emits `as` = inclusive running total of `valueCol` under
    * (bucket, orderCols) — callers must pick orderCols that total-order
    * rows WITHIN a bucket. */
  def orderedPrefixSum(df: DataFrame, coarseBucket: Column,
      orderCols: Seq[Column], valueCol: String, as: String): DataFrame = {
    val b = df.withColumn("__b", coarseBucket)
    val offsets = b.groupBy(col("__b")).agg(sum(col(valueCol)).as("__bt"))
      .withColumn("__off",
        coalesce(sum(col("__bt")).over(
          Window.orderBy(col("__b"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__b"), col("__off"))
    val w = Window.partitionBy(col("__b")).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.join(broadcast(offsets), "__b")
      .withColumn(as, sum(col(valueCol)).over(w) + col("__off"))
      .drop("__b", "__off")
  }

  /** Global `row_number` under the `orderCols` total order WITHOUT a
    * data-sized single-partition window: `repartitionByRange` on the
    * order columns, a per-shard local `row_number`, and broadcast shard
    * offsets (count of rows in all lower-range shards — shard ids ascend
    * with the range order). Shard boundaries only decide WHERE a row's
    * rank is computed, never the rank itself, so the output is
    * boundary-sampling- and AQE-coalescing-invariant; `orderCols` must be
    * a total order (include a unique tiebreak). Appends the rank as
    * `as`. The scale-correct form of `row_number().over(Window.orderBy)`
    * — used by quantileNormalize's pooled rank and the perplexity
    * tercile bucketer. */
  def rangedRank(df: DataFrame, orderCols: Seq[Column],
      as: String): DataFrame = {
    val shardConf = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions")
    // "auto" (some platforms) or other non-numeric values would throw an
    // opaque NumberFormatException here — fall back to the default
    // parallelism instead: shard count only affects parallelism, never
    // the ranks themselves.
    val shards = shardConf.toIntOption
      .getOrElse(df.sparkSession.sparkContext.defaultParallelism.max(1))
    // the range-partitioned pool is MATERIALIZED once (localCheckpoint)
    // before both consumers read it: the offsets aggregate and the rank
    // window must see the SAME row→shard assignment, and without a
    // barrier that only holds while exchange/stage reuse dedupes the two
    // plan branches — range boundaries are sampled per execution, so two
    // independent executions (e.g. spark.sql.exchangeReuseEnabled=false)
    // could disagree and silently corrupt ranks. The checkpoint makes
    // consistency unconditional; it is the one pass the rank pays anyway.
    val parts = Dedup.ckptLight(
        df.repartitionByRange(shards, orderCols: _*))
      .withColumn("__pid", spark_partition_id().cast("long"))
    val offsets = parts.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__poff", coalesce(sum(col("__c")).over(
        Window.orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("__poff"))
    parts
      .withColumn("__lrn", row_number().over(
        Window.partitionBy(col("__pid")).orderBy(orderCols: _*))
        .cast("long"))
      .join(broadcast(offsets), "__pid")
      .withColumn(as, col("__lrn") + col("__poff"))
      .drop("__pid", "__lrn", "__poff")
  }

  /** Referential-integrity audit: one report row per declared FK relation
    * — child row count and orphan count (child keys with no parent).
    * Each relation is one left join of the child's key projection against
    * the parent's DISTINCT key set plus one aggregate; relations are
    * independent, so the union is embarrassingly parallel. Null FKs count
    * as orphans (a null reference resolves to nothing).
    *
    * Scale: only key columns move; dimension-sized parents broadcast
    * (Catalyst's choice), fact-sized parents fall back to a co-partitioned
    * shuffle join — both correct, and the aggregate collapses to ONE row
    * per relation before the union. */
  def fkAudit(relations: Seq[(String, DataFrame, String, DataFrame, String)])
      : DataFrame =
    relations.map { case (label, child, fkCol, parent, pkCol) =>
      child.select(col(fkCol).as("__fk"))
        .join(parent.select(col(pkCol).as("__fk")).distinct()
          .withColumn("__hit", lit(1)), Seq("__fk"), "left")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("__hit").isNull, 1L).otherwise(0L)).as("n_orphans"))
        .select(lit(label).as("fk"), col("n_rows"), col("n_orphans"))
    }.reduce(_ union _)

  /** 2-D Pareto frontier (skyline): rows not strictly dominated on the
    * (xCol, yCol) pair — q dominates p iff q.x ≥ p.x ∧ q.y ≥ p.y with at
    * least one strict. Equal points tie and both survive. The classic
    * best-tradeoff query (spend vs. frequency, quality vs. length…).
    *
    * Shape: the skyline test factors through per-x groups — a row
    * survives iff it holds its x's max y AND that max beats every max at
    * any HIGHER x. So: (1) one hash aggregate to |distinct x| rows,
    * (2) a prefix-max over the x-descending order, built like
    * [[orderedPrefixSum]] (per-bucket window + broadcast bucket offsets —
    * never a single-partition window; `coarseBucket` must be a
    * DESCENDING-x bucketing, e.g. `-x DIV width`), (3) one equi-join
    * back on x to emit surviving rows. No pairwise dominance join — the
    * O(n²) NOT-EXISTS form is the oracle, not the plan. */
  def paretoFront2D(df: DataFrame, xCol: String, yCol: String,
      coarseBucket: Column): DataFrame = {
    val groups = df.groupBy(col(xCol)).agg(max(col(yCol)).as("__my"))
      .withColumn("__b", coarseBucket)
    // bucket offsets: running max of the per-bucket maxima over all
    // STRICTLY PRECEDING buckets (buckets ascend ⇒ x descends)
    val offsets = groups.groupBy(col("__b")).agg(max(col("__my")).as("__bm"))
      .withColumn("__off",
        max(col("__bm")).over(Window.orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("__b"), col("__off"))
    val w = Window.partitionBy(col("__b"))
      .orderBy(col(xCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = groups.join(broadcast(offsets), "__b")
      .withColumn("__pm", greatest(max(col("__my")).over(w), col("__off")))
      .filter(col("__pm").isNull || col("__my") > col("__pm"))
      .select(col(xCol), col("__my"))
    df.join(frontier.withColumnRenamed("__my", "__fy"), Seq(xCol))
      .filter(col(yCol) === col("__fy"))
      .drop("__fy")
  }

  /** Compaction planning: pack ordered "files" (any (key, size) frame —
    * small parquet files, log segments, spill shards) into contiguous
    * target-sized bins, the way a table-maintenance job sizes rewrite
    * tasks. A file starts the bin its preceding cumulative size falls in:
    * `bin = (running_total − size) DIV target` — greedy first-fit in key
    * order, deterministic, and each bin lands within one file of
    * `target`. Built on [[orderedPrefixSum]], so the plan has no
    * single-partition stage; the bin census collapses to |bins| rows. */
  def compactionBins(files: DataFrame, keyCol: String, sizeCol: String,
      coarseBucket: Column, target: Long): DataFrame =
    orderedPrefixSum(files, coarseBucket, Seq(col(keyCol)), sizeCol, "__cum")
      .withColumn("bin", expr(s"(__cum - $sizeCol) DIV $target"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col(sizeCol)).as("bin_bytes"))

  /** Zone-map pruning census: the scan-planning arithmetic behind parquet
    * row-group / data-file skipping. Per `bucketCol` zone, min/max/count
    * of `valueCol` are the footer statistics; a zone is skippable for the
    * predicate `valueCol BETWEEN lo AND hi` iff its range misses
    * [lo, hi] entirely. Returns the one-row report (zones, skippable
    * zones, rows skipped/total) a layout optimizer uses to price a sort
    * order — pair with [[zValue8]] to measure what Z-ordering buys.
    * Two partial-combined aggregates; the second runs on |zones| rows. */
  def zoneMapPrune(df: DataFrame, bucketCol: Column, valueCol: String,
      lo: Long, hi: Long): DataFrame =
    df.groupBy(bucketCol.as("__z"))
      .agg(min(col(valueCol)).as("__mn"), max(col(valueCol)).as("__mx"),
        count(lit(1)).as("__n"))
      .agg(count(lit(1)).as("n_zones"),
        sum(when(col("__mx") < lo || col("__mn") > hi, 1L).otherwise(0L))
          .as("zones_skipped"),
        sum(when(col("__mx") < lo || col("__mn") > hi, col("__n"))
          .otherwise(0L)).as("rows_skipped"),
        sum(col("__n")).as("rows_total"))

  /** Median-absolute-deviation outlier census per group — the robust
    * sibling of [[sigmaOutlierCensus]] (a single wild value inflates σ
    * and can mask itself; the median and MAD barely move). Flags values
    * with |v − median| > k·MAD. All thresholds stay exact integers by
    * carrying doubled scales: `med2 = 2·median(v)` and `mad4 =
    * 2·median(|2v − med2|)` are integers even when a percentile midpoint
    * interpolates halfway, and the flag test `2·|2v−med2| > k·mad4`
    * multiplies both sides integer-exact (the ×100-cent inputs keep
    * doubles exact far below 2^53, so percentile() itself is exact too).
    *
    * Scale shape: two percentile aggregates and the census all hash on
    * the group key; the |groups|-row stats frames broadcast back, so the
    * data shuffles once per pass and never expands. Exact percentiles
    * buffer each group's values — bounded-cardinality groups; at
    * unbounded scale the approx-quantile tier swaps in (same plan). */
  def madOutlierCensus(df: DataFrame, groupCol: String, valueCol: String,
      k: Int): DataFrame = {
    val med = df.groupBy(col(groupCol))
      .agg(round(expr(s"percentile($valueCol, 0.5)") * 2).cast("long")
        .as("__med2"))
    val withDev = df.join(broadcast(med), groupCol)
      .withColumn("__a", abs(col(valueCol) * 2 - col("__med2")))
    val mad = withDev.groupBy(col(groupCol))
      .agg(round(expr("percentile(__a, 0.5)") * 2).cast("long").as("__mad4"))
    withDev.join(broadcast(mad), groupCol)
      .groupBy(col(groupCol))
      .agg(sum(when(col("__a") * lit(2L) > lit(k.toLong) * col("__mad4"), 1L)
        .otherwise(0L)).as("n_outliers"),
        count(lit(1)).as("n"))
  }

  /** Exact weighted median (lower form) per group: the smallest value v —
    * under the (value, orderCols) total order — whose cumulative weight
    * reaches half the group's total (2·cumw ≥ totw). The robust center a
    * pipeline wants when rows carry unequal mass (docs weighted by token
    * count, trades by size); reduces to the lower median at weight 1.
    * Integer weights keep the ≥-half test exact — no float quantile.
    *
    * NOT a per-group sort: with few groups a naive cumulative window
    * collapses to |groups| tasks each sorting everything (measured 1.5 s
    * at sf0.1 vs 0.4 s for this form; fatal at 100 TB). Instead the
    * crossing is located in value-BUCKET space first: (group, v DIV W)
    * weight sums partial-combine in parallel, a prefix over that tiny
    * frame finds the bucket where half-total lands and the cumulative
    * offset before it, and only that bucket's sliver of rows — broadcast-
    * joined, then one window over rows sharing a single bucket value —
    * resolves the exact crossing row. Two parallel scans + windows over
    * bucket-sized frames; no full-group sort anywhere.
    *
    * Bucket width tunes the partial-agg collapse, and WIDE wins: the map
    * side only combines when a task sees multiple rows per (group,
    * bucket), so width must exceed value-range ÷ rows-per-task or the
    * "aggregate" shuffles nearly raw rows. Measured at sf0.1 (600k rows,
    * ~10M-cent range, repeated warm runs): W=1024 → 30.5k buckets, near-zero collapse,
    * 1.7 s warm; W=65536 → ~480 buckets, full in-task collapse, 1.35 s —
    * while the crossing sliver stays a few thousand rows. The same
    * arithmetic governs any scale: pick W ≈ range·tasks ÷ rows, err wide
    * (the sliver window is the cheap side).
    *
    * Tie safety: equal values share a bucket (v determines the bucket),
    * and the first crossing row within a run of equal values yields the
    * same v under any tiebreak, so the output is tie-order independent. */
  def weightedMedian(df: DataFrame, groupCol: String, valueCol: String,
      weightCol: String, orderCols: Seq[Column],
      bucketWidth: Long = 65536L): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth=$bucketWidth out of range")
    val b = df.withColumn("__bkt", expr(s"$valueCol DIV $bucketWidth"))
    val wPfx = Window.partitionBy(col(groupCol)).orderBy(col("__bkt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val crossing = b.groupBy(col(groupCol), col("__bkt"))
      .agg(sum(col(weightCol)).as("__bw"))
      .withColumn("__cumb", sum(col("__bw")).over(wPfx))
      .withColumn("__totw",
        sum(col("__bw")).over(Window.partitionBy(col(groupCol))))
      .filter(col("__cumb") * 2 >= col("__totw"))
      .groupBy(col(groupCol))
      .agg(min(col("__bkt")).as("__cbkt"),
        min_by(col("__cumb") - col("__bw"), col("__bkt")).as("__off"),
        max(col("__totw")).as("__totw"))
    val wIn = Window.partitionBy(col(groupCol))
      .orderBy((col(valueCol) +: orderCols): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.join(broadcast(crossing), groupCol)
      .filter(col("__bkt") === col("__cbkt"))
      .withColumn("__cum", col("__off") + sum(col(weightCol)).over(wIn))
      .filter(col("__cum") * 2 >= col("__totw"))
      .groupBy(col(groupCol))
      .agg(min(col(valueCol)).as("wmedian"),
        max(col("__totw")).as("total_weight"))
  }

  /** Largest-remainder apportionment: split an integer budget across
    * strata proportionally to `cntCol`, exactly — Σ allocations = budget,
    * every stratum gets ⌊budget·cnt/total⌋, and the leftover units go to
    * the largest fractional remainders (ties broken by the stratum key,
    * so the split is deterministic). This is how a sampling plan turns
    * "10k docs, proportional by (source, lang)" into per-stratum quotas
    * that actually add up — plain rounding over- or under-shoots.
    *
    * Scale shape: runs on the ALREADY-AGGREGATED strata table (|strata|
    * rows, not data) — the unpartitioned windows are over that tiny
    * frame, the same posture as [[graft.SparkEntry]]'s corpus_drift. */
  def largestRemainderApportion(counts: DataFrame, keyCols: Seq[String],
      cntCol: String, budget: Long): DataFrame = {
    val keys = keyCols.map(col)
    val wAll = Window.partitionBy()
    val wRank = Window.partitionBy()
      .orderBy((col("__rem").desc +: keys): _*)
    counts
      .withColumn("__tot", sum(col(cntCol)).over(wAll))
      .withColumn("__base", expr(s"($budget * $cntCol) DIV __tot"))
      .withColumn("__rem", expr(s"($budget * $cntCol) % __tot"))
      .withColumn("__left", lit(budget) - sum(col("__base")).over(wAll))
      .withColumn("__rk", row_number().over(wRank))
      .select(keys :+ col(cntCol) :+
        (col("__base") + when(col("__rk") <= col("__left"), 1L)
          .otherwise(0L)).as("quota"): _*)
  }

  /** Gini concentration coefficient per group, integer permille: with
    * values sorted ascending and ranked 1..n,
    *
    *   G = (2·Σ i·vᵢ − (n+1)·Σv) / (n·Σv)
    *
    * — 0 = perfectly equal, →1000 = one row holds everything. The
    * inequality lens on revenue/traffic/token mass that decides "is this
    * source dominated by a few documents". Σ i·vᵢ is tie-order exact
    * (equal values swap identical contributions), DECIMAL(38,0) sums, one
    * integer floor division at the end.
    *
    * Scale shape: one rank window + one aggregate, both hashed on the
    * group key. */
  def giniPermille(df: DataFrame, groupCol: String, valueCol: String,
      orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy((col(valueCol) +: orderCols): _*)
    df.withColumn("__i", row_number().over(w))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(38,0)")).as("__sv"),
        sum((col("__i") * col(valueCol)).cast("decimal(38,0)")).as("__siv"))
      .select(col(groupCol), col("n"),
        expr("CASE WHEN __sv = 0 THEN NULL ELSE CAST(" +
          "(2 * __siv - (CAST(n AS DECIMAL(38,0)) + 1) * __sv) * 1000 DIV " +
          "(CAST(n AS DECIMAL(38,0)) * __sv) AS BIGINT) END")
          .as("gini_permille"))
  }

  /** Market-basket pair mining (the association-rule support/confidence
    * census): for every unordered item pair co-occurring in ≥ `minCount`
    * baskets, the co-count, each item's basket count, support in parts-
    * per-million and the a→b confidence in permille — all integer floor
    * arithmetic (1000·n_ab DIV c_a etc.), never a float ratio, so the
    * scores are engine-exact. Lift derives offline as
    * conf_ab / (c_b/n_baskets); the triple product n_ab·n_baskets·10⁶ is
    * deliberately NOT materialized — it overflows BIGINT at warehouse
    * scale, while every shipped column stays ≤ 10⁶·n_ab.
    *
    * Scale shape: baskets collapse to DISTINCT (basket, item) first (the
    * only data-sized aggregate); candidate pairs come from the self-join
    * on the basket id — work is Σ_b |basket|², bounded by the real-world
    * basket-size cap, never |items|². Item counts attach AFTER the pair
    * aggregate (|pairs|-sized), the basket total rides a broadcast
    * single-row cross join. A pathological mega-basket would dominate
    * Σ|basket|² — cap upstream if baskets are unbounded (here TPC-H
    * orders hold ≤7 lines by construction). */
  def basketPairs(items: DataFrame, basketCol: String, itemCol: String,
      minCount: Int): DataFrame = {
    val bi = items.select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .distinct().localCheckpoint()
    val total = bi.agg(countDistinct(col("__b")).as("n_baskets"))
    val itemCounts = bi.groupBy(col("__i")).agg(count(lit(1)).as("__c"))
    val pairs = bi
      .join(bi.select(col("__b"), col("__i").as("__j")), "__b")
      .filter(col("__i") < col("__j"))
      .groupBy(col("__i"), col("__j")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    pairs
      .join(itemCounts.select(col("__i"), col("__c").as("c_a")), "__i")
      .join(itemCounts.select(col("__i").as("__j"), col("__c").as("c_b")),
        "__j")
      .crossJoin(broadcast(total))
      .select(col("__i").as("item_a"), col("__j").as("item_b"),
        col("n_ab"), col("c_a"), col("c_b"),
        expr("(1000000 * n_ab) DIV n_baskets").as("support_ppm"),
        expr("(1000 * n_ab) DIV c_a").as("conf_ab_permille"),
        expr("(1000 * n_ab) DIV c_b").as("conf_ba_permille"))
  }

  /** Quantile normalization: map each group's value distribution onto the
    * POOLED distribution (the cross-source feature alignment used when
    * per-source scales drift — the genomics-standard technique, public
    * literature). Each row's within-group rank becomes a permille
    * percentile, and the normalized value is the pooled value at that
    * percentile — rank lookups only, no float interpolation, so every
    * output is an exact member of the pooled value set.
    *
    * Determinism: both rankings order by (value, tiebreak) — `tieCol`
    * must be a per-row unique key — so equal values rank identically on
    * any engine. Percentile→pooled-index arithmetic is pure BIGINT:
    * pct = ((rn−1)·1000) DIV (n−1), pooled idx = 1 + (pct·(N−1)) DIV 1000
    * (singleton groups pin pct = 500).
    *
    * Shape: one group-partitioned window for the per-group ranks; the
    * POOLED rank is a range-partitioned sort rank — `repartitionByRange`
    * on (value, tiebreak), a per-shard `row_number`, and broadcast shard
    * offsets (the [[orderedPrefixSum]] pattern with the range exchange as
    * the bucketing) — so no data-sized single-partition window exists
    * anywhere in the plan; shard boundaries only decide which shard
    * computes a row's rank, never the rank itself, so the output is
    * boundary- and AQE-coalescing-invariant. Then one equi-join on the
    * pooled index — no per-row search. */
  def quantileNormalize(df: DataFrame, groupCol: String, valCol: String,
      tieCol: String): DataFrame = {
    val v = df.select(col(groupCol).as("g"), col(valCol).as("v"),
      col(tieCol).as("tie"))
    val wg = Window.partitionBy("g").orderBy(col("v"), col("tie"))
    val wgAll = Window.partitionBy("g")
    val ranked = v
      .withColumn("rn", row_number().over(wg).cast("long"))
      .withColumn("n", count(lit(1)).over(wgAll))
      .withColumn("pct", when(col("n") === 1L, 500L)
        .otherwise(expr("((rn - 1) * 1000) DIV (n - 1)")))
    // pooled rank = within-shard row_number + count of rows in all
    // lower-range shards (shard ids ascend with the range order)
    val pooled = rangedRank(v, Seq(col("v"), col("tie")), "prn")
      .select(col("v").as("pooled_v"), col("prn"))
    // max pooled rank == row count: a 1-row partial-combined aggregate,
    // not a replay of the pooled rank branch
    val total = v.agg(count(lit(1)).as("__ptot"))
    ranked.crossJoin(broadcast(total))
      .withColumn("pidx", lit(1L) + expr("(pct * (__ptot - 1)) DIV 1000"))
      .join(pooled, col("pidx") === col("prn"))
      .select(col("g").as(groupCol), col("tie").as(tieCol),
        col("v").as(valCol), col("pooled_v").as("norm_" + valCol))
  }

  /** Exact ROC-AUC by rank sums (Mann–Whitney U with midrank tie
    * handling), in pure integers — the threshold-free "does this score
    * actually rank positives above negatives" check run on every quality
    * scorer before its cutoffs are trusted. Works from the per-score
    * HISTOGRAM, so the data-sized pass is one map-side-combined count
    * aggregate; the rank math runs over |distinct scores| rows (the ONE
    * unpartitioned window, on a domain-bounded frame — documented
    * single-partition cost, same posture as quantile_normalize). Ties
    * contribute the standard ½ via doubled numerators: 2·Σ np(s)·(2·
    * negBelow(s) + nn(s)) stays integral, and AUC emits as ppm FLOOR
    * division — no float ever forms. */
  def rankAuc(df: DataFrame, score: Column, isPos: Column): DataFrame = {
    val hist = df.select(score.as("__s"),
        when(isPos, 1L).otherwise(0L).as("__p"))
      .groupBy(col("__s"))
      .agg(sum(col("__p")).as("np"), sum(lit(1L) - col("__p")).as("nn"))
    val w = Window.orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    hist.withColumn("__cumneg", coalesce(sum(col("nn")).over(w), lit(0L)))
      .agg(sum(col("np") * (lit(2L) * col("__cumneg") + col("nn")))
          .as("__num2"),
        sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"))
      .select(col("n_pos"), col("n_neg"),
        expr("1000000 * __num2 DIV (2 * n_pos * n_neg)").as("auc_ppm"))
  }

  /** Tukey median polish (bounded rounds): the robust two-way
    * decomposition x_ij ≈ overall + row_i + col_j + resid_ij, fitted by
    * alternately sweeping out row and column LOWER medians — outlier
    * cells perturb the additive fit not at all, where the mean-based
    * two-way ANOVA fit smears them across a whole row and column. The
    * classic EDA screen before trusting any (dimension × dimension)
    * aggregate table.
    *
    * All arithmetic is exact integers: the lower median is a rank pick
    * (row_number = (n+1) DIV 2 under the (value, crossing-key) total
    * order — n odd → true middle, n even → lower middle), never an
    * interpolated float, so the unrolled-CTE oracle reproduces every
    * subtraction bit-for-bit.
    *
    * Scale shape: this runs on an ALREADY-AGGREGATED |rows|×|cols| grid
    * (the data-sized work happened in the feeding aggregate); each round
    * is two window passes + two broadcast joins over grid-sized frames.
    * Returns one row per cell: (row, col, resid, row_eff, col_eff) with
    * effects accumulated across rounds. */
  def medianPolish(grid: DataFrame, rowCol: String, colCol: String,
      valCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 4, s"rounds=$rounds out of range")
    def lowerMedian(df: DataFrame, part: String, tie: String,
        out: String): DataFrame = {
      val w = Window.partitionBy(col(part))
        .orderBy(col("__v").asc, col(tie).asc)
      df.withColumn("__rn", row_number().over(w))
        .withColumn("__n", count(lit(1)).over(Window.partitionBy(col(part))))
        .filter(col("__rn") === expr("(__n + 1) DIV 2"))
        .select(col(part), col("__v").as(out))
    }
    var cur = grid.select(col(rowCol).as("__r"), col(colCol).as("__c"),
      col(valCol).cast("long").as("__v"))
      .withColumn("__re", lit(0L)).withColumn("__ce", lit(0L))
    var i = 0
    while (i < rounds) {
      val rm = lowerMedian(cur, "__r", "__c", "__rm")
      cur = cur.join(broadcast(rm), "__r")
        .select(col("__r"), col("__c"), (col("__v") - col("__rm")).as("__v"),
          (col("__re") + col("__rm")).as("__re"), col("__ce"))
      val cm = lowerMedian(cur, "__c", "__r", "__cm")
      cur = cur.join(broadcast(cm), "__c")
        .select(col("__r"), col("__c"), (col("__v") - col("__cm")).as("__v"),
          col("__re"), (col("__ce") + col("__cm")).as("__ce"))
      i += 1
    }
    cur.select(col("__r").as(rowCol), col("__c").as(colCol),
      col("__v").as("resid"), col("__re").as("row_eff"),
      col("__ce").as("col_eff"))
  }

  /** Poisson bootstrap replicate statistics (the scalable bootstrap:
    * instead of resampling n rows B times — impossible distributed — each
    * row independently joins replicate b with a Poisson(1) multiplicity,
    * which converges to the multinomial bootstrap for large n). The
    * multiplicity is DETERMINISTIC: a 20-bit md5 draw per (row-key,
    * replicate) inverted through the Poisson(1) CDF — md5 so an external
    * SQL engine reproduces the draws bit-for-bit
    * ([[poissonHexThresholds]] embeds the inverse-CDF cut points as hex
    * literals on both sides). Output per replicate: effective row count
    * and weighted sum — exact integers; the consumer derives SE/CI from
    * the B sums without this operator ever touching a float.
    *
    * Scale: one projection (rows × B, codegen'd) into one
    * map-side-combined aggregate over B groups — no resampling shuffle,
    * no driver state. B is the output size, not a data multiplier that
    * shuffles. */
  def poissonBootstrap(df: DataFrame, keyCol: Column, valueCol: Column,
      reps: Int): DataFrame = {
    require(reps >= 2 && reps <= 256, s"reps=$reps out of range")
    val th = poissonHexThresholds
    val w = when(col("__h") < th(0), 0L).when(col("__h") < th(1), 1L)
      .when(col("__h") < th(2), 2L).when(col("__h") < th(3), 3L)
      .otherwise(4L)
    df.select(keyCol.cast("string").as("__k"), valueCol.as("__v"))
      .select(col("__k"), col("__v"),
        explode(sequence(lit(0L), lit((reps - 1).toLong))).as("b"))
      .withColumn("__h",
        substring(md5(concat(col("__k"), lit(":"), col("b").cast("string"))),
          1, 5))
      .groupBy(col("b"))
      .agg(sum(w).as("n_eff"), sum(w * col("__v")).as("sum_v"))
  }

  /** Poisson(1) inverse-CDF cut points over the first 5 md5 hex chars
    * (20 bits): multiplicity k for draws in [threshold(k-1),
    * threshold(k)), k = 4 beyond the last (P ≈ 1.9%, capped — bias
    * < 0.004 on the mean, irrelevant next to bootstrap noise). Driver-
    * computed once; the SQL twin embeds the same literals. */
  def poissonHexThresholds: Seq[String] = {
    val e = math.exp(-1.0)
    Seq(e, 2 * e, 2.5 * e, 8.0 / 3 * e)
      .map(c => f"${math.floor(c * (1L << 20)).toLong}%05x")
  }

  /** Frequent item TRIPLES (one Apriori level above [[basketPairs]]):
    * item triples co-occurring in ≥ `minCount` baskets. Candidates come
    * from the per-basket 3-way self-join — bounded because basket SIZE is
    * bounded by the domain (an order has ≤7 lines), not by scale — and
    * the Apriori property prunes first: a triple can only be frequent if
    * its (a,b) pair is, so candidates semi-join the frequent-pair set
    * before the counting aggregate sees them. */
  def basketTriples(items: DataFrame, basketCol: String, itemCol: String,
      minCount: Int): DataFrame = {
    val bi = items.select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .distinct().localCheckpoint()
    val freqPairs = bi
      .join(bi.select(col("__b"), col("__i").as("__j")), "__b")
      .filter(col("__i") < col("__j"))
      .groupBy(col("__i"), col("__j")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minCount)
      .select(col("__i"), col("__j"))
    bi.join(bi.select(col("__b"), col("__i").as("__j")), "__b")
      .filter(col("__i") < col("__j"))
      .join(freqPairs, Seq("__i", "__j"), "left_semi")
      .join(bi.select(col("__b"), col("__i").as("__k")), "__b")
      .filter(col("__k") > col("__j"))
      .groupBy(col("__i"), col("__j"), col("__k"))
      .agg(count(lit(1)).as("n_abc"))
      .filter(col("n_abc") >= minCount)
      .select(col("__i").as("item_a"), col("__j").as("item_b"),
        col("__k").as("item_c"), col("n_abc"))
  }

  /** Isotonic regression by pool-adjacent-violators (PAV), fitted per
    * group over pre-aggregated (x, Σv, n) points — the calibration-curve
    * fit ("enforce that the estimated mean is nondecreasing in x"). PAV
    * is inherently sequential IN X, so this is the one operator family
    * that legitimately drops to the typed API: groups are independent
    * (trivially parallel), each group's point set is bounded by the x
    * domain (e.g. 24 hours), and `flatMapGroups` runs the exact
    * integer-arithmetic stack pass per group — pool means compare by
    * cross-multiplication (`sumL·nR > sumR·nL`), so no float enters the
    * fit. Emits one row per input point with its pool's (Σv, n); equal
    * fitted means share a pool id. */
  def isotonicFit(points: DataFrame, groupCol: String, xCol: String,
      sumCol: String, nCol: String): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    points
      .select(col(groupCol).cast("string").as("g"),
        col(xCol).cast("long").as("x"), col(sumCol).cast("long").as("s"),
        col(nCol).cast("long").as("n"))
      .as[(String, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (g, it) =>
        val pts = it.toArray.sortBy(_._2)
        require(pts.length <= 100000, s"group $g too wide for PAV")
        // pool stack: (firstX, sum, n); merge while means decrease
        val stack = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        pts.foreach { case (_, x, s, n) =>
          var cur = (x, s, n)
          while (stack.nonEmpty &&
            stack.last._2 * cur._3 > cur._2 * stack.last._3) {
            val p = stack.remove(stack.length - 1)
            cur = (p._1, p._2 + cur._2, p._3 + cur._3)
          }
          stack += cur
        }
        // re-emit one row per point, tagged with its pool's stats
        val pools = stack.toArray
        pts.iterator.map { case (_, x, _, _) =>
          val pi = pools.lastIndexWhere(_._1 <= x)
          (g, x, pools(pi)._1, pools(pi)._2, pools(pi)._3)
        }
      }
      .toDF(groupCol, xCol, "pool_x", "pool_sum", "pool_n")
  }

  /** Information-gain feature ranking: mutual information between EACH
    * candidate categorical feature and the target, from ONE unpivoted
    * scan — the feature-selection report run before training a model
    * ("which columns actually predict the label"). Information gain of a
    * feature IS I(F;T), so this generalizes the pairwise mutual-information
    * operator to a per-feature ranking: `stack` unpivots the feature
    * columns (rows ×|features| before the first aggregate, map-side
    * combined), marginals re-aggregate from the cell counts and come back
    * broadcast, each cell's log term is quantized to micros exactly as the
    * DuckDB twin does, and the permille MI collapses per feature.
    *
    * Scale shape: one data-sized aggregate to (feature, value, target)
    * cells; everything after is |cells|-sized with broadcast joins. */
  def infoGainRanking(df: DataFrame, features: Seq[String],
      targetCol: String): DataFrame = {
    require(features.nonEmpty, "need at least one feature")
    val stackArgs = features
      .map(f => s"'$f', CAST(`$f` AS STRING)").mkString(", ")
    val stacked = df.select(
      expr(s"stack(${features.size}, $stackArgs) AS (__f, __v)"),
      col(targetCol).cast("string").as("__t"))
    // cells are |features|·|values|·|targets|-sized — materialize so the
    // three marginal re-aggregations read THEM, not the data-sized scan
    // (un-checkpointed, each broadcast side re-plans the full scan: 4
    // reads of the fact table for one report)
    val cells = Dedup.ckptLight(
      stacked.groupBy(col("__f"), col("__v"), col("__t"))
        .agg(count(lit(1)).as("__c")))
    val mv = cells.groupBy(col("__f"), col("__v"))
      .agg(sum(col("__c")).as("__cv"))
    val mt = cells.groupBy(col("__f"), col("__t"))
      .agg(sum(col("__c")).as("__ct"))
    val n = cells.groupBy(col("__f")).agg(sum(col("__c")).as("__n"))
    cells.join(broadcast(mv), Seq("__f", "__v"))
      .join(broadcast(mt), Seq("__f", "__t"))
      .join(broadcast(n), Seq("__f"))
      .withColumn("__q", expr(
        "CAST(round(ln((CAST(__c AS DOUBLE) * CAST(__n AS DOUBLE)) / " +
          "(CAST(__cv AS DOUBLE) * CAST(__ct AS DOUBLE))) * 1000000, 0) " +
          "AS BIGINT)"))
      .groupBy(col("__f").as("feature"))
      .agg(expr("CAST(round(SUM(__q * __c) / (MAX(__n) * 1000.0), 0) " +
          "AS BIGINT)").as("ig_permille"),
        count(lit(1)).as("n_cells"))
  }
}
