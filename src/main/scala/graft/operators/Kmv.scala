package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** KMV — k-minimum-values distinct-count sketch (Bar-Yossef et al. 2002;
  * Beyer et al., SIGMOD 2007).
  *
  * Hash every key with the deterministic polynomial codepoint hash
  * ([[graft.functions.StringKernels.polyHash]], mod p = 1e9+7) FOLLOWED
  * by the affine finalizer h' = (h·961748927 + 12345) mod p, keep the k
  * smallest DISTINCT finalized values, and estimate the distinct count
  * as ⌊(k−1)·p / h'₍ₖ₎⌋ — the KMV estimator on the integer hash domain,
  * evaluated in EXACT integer division ((k−1)·p fits a long for any
  * sane k). With fewer than k distinct hashes the sketch holds the
  * whole hash set and the estimate IS that exact count.
  *
  * The finalizer is load-bearing, not decoration: the base-31 fold is
  * near-MONOTONE on the digit strings of sequential numeric keys
  * (consecutive keys land on consecutive hashes), so its minimum order
  * statistics measure the key RANGE, not the cardinality — measured 34×
  * overestimate on TPC-H orderkeys. One multiplicative spread mod p
  * restores equidistribution (measured ≤3.6% error at every driver SF,
  * inside the ~1/√k KMV bound) and stays a two-op SQL-replayable
  * expression.
  *
  * Why this exists beside the HLL surface (q71/q154/q178): Spark's HLL
  * uses xxhash64, which no oracle can replay, so those checks are
  * rows-only/±bound. The polynomial hash is SQL-expressible (the
  * convention `Dedup.minhashCandidates` follows), so THIS
  * sketch is hash-checkable end to end — estimate, k-th hash, and error
  * — by an engine that shares nothing but the definition.
  *
  * Scale shape: one distinct over the hashed keys (the same shuffle an
  * exact count-distinct pays), then a k-row TakeOrdered — the sketch
  * state is k longs, mergeable by union-then-take-k (KmvSpec pins the
  * union invariance). The exact count rides along as an AUDIT column
  * (the q111/q120 convention: the number that prices the sketch before
  * a pipeline trusts it at a scale where the exact pass is unaffordable).
  */
object Kmv {

  private val P = graft.functions.StringKernels.PolyHashMod

  /** The guarded KMV estimator over a `kth_hash` column: exact
    * (`nCol`) under k resident hashes, ⌊(k−1)·p / h₍ₖ₎⌋ otherwise; the
    * `kth_hash > 0` branch is unreachable with k ≥ 2 distinct hashes
    * (the k-th order statistic is ≥ k−1) but guards the div against the
    * 0 the finalized domain admits. ONE definition shared by every
    * face — global, per-group, trailing-window — so estimator changes
    * stay single-sourced.
    */
  private def estExpr(k: Int, nCol: Column): Column =
    when(nCol < k || col("kth_hash") <= 0, nCol)
      .otherwise(expr(s"${(k - 1).toLong * P} div kth_hash"))

  /** `round(|est − exact| / exact, 6) + 0.0` — the shared audit column. */
  private def relErr(est: Column, exact: Column): Column =
    round(abs(est.cast("double") - exact.cast("double")) /
      exact.cast("double"), 6) + lit(0.0)

  /** The affine finalizer over an already-computed polyhash column:
    * (h·961748927 + 12345) mod p. Load-bearing wherever ORDER
    * STATISTICS are taken over the hash (KMV k-th minima, 1-perm
    * MinHash fingerprints): the raw base-31 polyhash is near-monotone
    * on lexicographic content, so its order statistics measure content
    * RANGE, not a uniform permutation draw; the finalizer scrambles
    * the order while staying one multiply-add away from the oracle's
    * list_reduce replay.
    */
  def finalized(h: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (h * lit(961748927L) + lit(12345L)) % lit(P)

  /** Driver-side scalar twin of [[finalized]] — ONE definition of the
    * affine constants for plan-time consumers (hash-derived LSH plane
    * coefficients); `h` must already be a mod-p polyhash (< p, so the
    * product stays under 2⁶³).
    */
  def finalizedLong(h: Long): Long = (h * 961748927L + 12345L) % P

  /** The finalized hash column for `keyCol` — the sketch's only
    * per-row work, shared by the batch audit and the streaming partials.
    */
  def finalizedHash(keyCol: String): org.apache.spark.sql.Column =
    finalized(graft.functions.StringFunctions.polyHash(col(keyCol).cast("string")))

  /** A k-row PARTIAL: the k smallest distinct finalized hashes of this
    * slice. Partials merge by union→distinct→k-smallest (the global k
    * minima each survive their own slice's cut), which is what makes the
    * sketch streamable / shardable with no special merge logic.
    */
  def partial(df: DataFrame, keyCol: String, k: Int): DataFrame =
    df.select(finalizedHash(keyCol).as("h"))
      .filter(col("h").isNotNull) // null keys are outside the domain —
      // ascending-sort-first nulls would waste sketch slots otherwise
      .distinct()
      .orderBy(col("h").asc).limit(k)

  /** Estimate columns from a (possibly merged) distinct-hash relation:
    * (n_kept, kth_hash, n_hashes, estimate). `hashes` must carry `h`.
    */
  def estimateFromHashes(hashes: DataFrame, k: Int): DataFrame = {
    // a null hash (null key) would sort FIRST and displace a real k-th
    // order statistic while count() still tallies it — outside the
    // domain, like count_distinct's own null treatment in the audit
    val hashed = Stage.snapshotDF(
      hashes.select("h").filter(col("h").isNotNull).distinct())
    val stats = hashed.agg(count(lit(1)).as("n_hashes"))
    val est = estExpr(k, col("n_hashes"))
    hashed.orderBy(col("h").asc).limit(k)
      .agg(count(lit(1)).as("n_kept"), max("h").as("kth_hash"))
      .crossJoin(broadcast(stats))
      .select(col("n_kept"), col("kth_hash"), col("n_hashes"),
        est.as("estimate"))
  }

  def kmvDistinct(df: DataFrame, keyCol: String, k: Int = 256): DataFrame = {
    require(k >= 2, s"need k >= 2, got $k")
    val exact = df.agg(count_distinct(col(keyCol)).as("exact_distinct"))
    estimateFromHashes(df.select(finalizedHash(keyCol).as("h")), k)
      .crossJoin(broadcast(exact))
      .select(col("n_kept"), col("kth_hash"), col("n_hashes"),
        col("estimate"), col("exact_distinct"),
        relErr(col("estimate"), col("exact_distinct")).as("rel_error"))
  }

  /** Per-group KMV with the exact audit beside each estimate — the
    * keyed face of [[kmvDistinct]] (the q258 keyed-sketch shape on the
    * cardinality path): ONE distinct over (group, hash) — the same
    * shuffle a grouped exact count-distinct pays — then a
    * GROUP-partitioned `row_number ≤ k` cut, so the per-group sketch
    * state is ≤ k longs and a million groups distribute (no global
    * window, no TakeOrdered bottleneck). Same estimator, same
    * `kth_hash > 0` guard, same exact-audit column as the global form.
    */
  def kmvDistinctByGroup(
      df: DataFrame, groupCol: String, keyCol: String, k: Int = 256): DataFrame = {
    require(k >= 2, s"need k >= 2, got $k")
    val hashed = Stage.snapshotDF(
      df.select(col(groupCol).as("g"), finalizedHash(keyCol).as("h"))
        .filter(col("h").isNotNull && col("g").isNotNull).distinct())
    val stats = hashed.groupBy("g").agg(count(lit(1)).as("n_hashes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy("h")
    val sk = hashed.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .groupBy("g").agg(count(lit(1)).as("n_kept"), max("h").as("kth_hash"))
    val exact = df
      .select(col(groupCol).as("g"), col(keyCol).as("__key"))
      .filter(col("g").isNotNull)
      .groupBy("g").agg(count_distinct(col("__key")).as("exact_distinct"))
    val est = estExpr(k, col("n_hashes"))
    sk.join(stats, "g").join(exact, "g")
      .select(col("g").as(groupCol), col("n_kept"), col("kth_hash"),
        col("n_hashes"), est.as("estimate"), col("exact_distinct"),
        relErr(est, col("exact_distinct")).as("rel_error"))
      .orderBy(groupCol)
  }

  /** Trailing-window distinct estimate from per-day KMV partials — the
    * sketch-algebra answer to the q139 DAU/WAU problem: sliding
    * DISTINCT counts don't compose from per-day exact counts, so q139
    * expands the whole (user, day) activity relation ×W. Here the ×W
    * expansion multiplies ≤ k-row PARTIALS instead: each day reduces to
    * its k smallest distinct hashes once, each partial row fans to the
    * ≤ W observation days it serves, and the per-day k-cut of the union
    * IS the true k-cut of the union of the full daily sets (a global
    * k-minimum is a fortiori among its own day's k smallest — the
    * [[partial]] merge argument, windowed). Per-day state: k longs;
    * everything past the daily distinct is k·days-sized, while the
    * exact form hauls the full user set through every window. With
    * `audit = true` (the gate default) the exact trailing count rides
    * as the audit column (same ×W expansion on the (user, day)
    * relation — affordable at driver SFs, the number that prices the
    * sketch before 100 TB retires it); `audit = false` is the
    * production posture — partials-only, no base-relation rescan
    * (PlanSpec pins the no-audit plan reads nothing data-sized).
    *
    * Observation days are census days (days with activity), the q139
    * reporting convention; the estimate is exact whenever the merged
    * resident set stays under k.
    *
    * `groupCols` selects the KEYED trailing face (per-tenant rolling
    * WAU): per-(group, day) k-cut partials, PER-GROUP census days (a
    * group reports on its own active days), every window
    * group-partitioned — a million groups distribute like one.
    */
  def trailingKmv(
      df: DataFrame, keyCol: String, tsCol: String,
      k: Int = 64, windowDays: Int = 7, audit: Boolean = true,
      groupCols: Seq[String] = Seq.empty): DataFrame = {
    require(k >= 2 && windowDays >= 1, s"bad ($k, $windowDays)")
    val g = groupCols.map(col)
    val obsKey = groupCols :+ "obs_day"
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy((g :+ col("day")): _*).orderBy("h")
    val dayHash = Stage.snapshotDF(
      df.select((g :+ to_date(col(tsCol)).as("day")
          :+ finalizedHash(keyCol).as("h")): _*)
        .filter(col("h").isNotNull && col("day").isNotNull).distinct())
    val census = dayHash.select((g :+ col("day")): _*).distinct()
      .withColumnRenamed("day", "obs_day")
    val partials = dayHash.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).select((g :+ col("day") :+ col("h")): _*)
    val merged = Stage.snapshotDF(partials
      .select((g :+ col("day") :+ col("h")
        :+ explode(sequence(lit(0), lit(windowDays - 1))).as("__i")): _*)
      .select((g :+ expr("date_add(day, __i)").as("obs_day") :+ col("h")): _*)
      .join(census, obsKey)
      .distinct())
    val ow = org.apache.spark.sql.expressions.Window
      .partitionBy(obsKey.map(col): _*).orderBy("h")
    val res = merged.groupBy(obsKey.map(col): _*)
      .agg(count(lit(1)).as("n_resident"))
    val sk = merged.withColumn("__rn", row_number().over(ow))
      .filter(col("__rn") <= k)
      .groupBy(obsKey.map(col): _*)
      .agg(count(lit(1)).as("n_kept"), max("h").as("kth_hash"))
    val est = estExpr(k, col("n_resident"))
    val core = sk.join(res, obsKey)
      .select((obsKey.map(col) :+ col("n_kept") :+ col("kth_hash")
        :+ col("n_resident") :+ est.as("estimate")): _*)
    if (!audit) return core.orderBy(obsKey.map(col): _*)
    // audit = the EXPENSIVE half at production scale: the exact
    // trailing count hauls the full (day, key) relation ×W through
    // every window, while everything above touches only k-row /
    // resident-set partials. Gate queries keep audit = true (the
    // number that prices the sketch); the 100 TB composition runs
    // audit = false (PlanSpec pins that plan reads no base relation).
    val exact = df
      .select((g :+ to_date(col(tsCol)).as("day")
        :+ col(keyCol).as("__key")): _*)
      .filter(col("day").isNotNull).distinct()
      .select((g :+ col("day") :+ col("__key")
        :+ explode(sequence(lit(0), lit(windowDays - 1))).as("__i")): _*)
      .select((g :+ expr("date_add(day, __i)").as("obs_day")
        :+ col("__key")): _*)
      .join(census, obsKey)
      .groupBy(obsKey.map(col): _*)
      .agg(count_distinct(col("__key")).as("exact_trailing"))
    core.join(exact, obsKey)
      .select((obsKey.map(col) :+ col("n_kept") :+ col("kth_hash")
        :+ col("n_resident") :+ col("estimate") :+ col("exact_trailing")
        :+ relErr(col("estimate"), col("exact_trailing")).as("rel_error")): _*)
      .orderBy(obsKey.map(col): _*)
  }
}
