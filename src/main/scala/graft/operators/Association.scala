package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Association-rule mining over (basket, item) pairs: pairwise support /
  * confidence / lift from exact co-occurrence counts.
  *
  * Scale shape: one distinct projection of (basket, item), one self-join
  * keyed on the basket (pair volume Σ basket-size² — baskets, not the
  * catalog, bound the blow-up), one aggregation to pair supports, then a
  * broadcast-sized join against the per-item supports. Every statistic is
  * an exact integer ratio evaluated in one declared double expression, so
  * the result is engine-stable with no rounding contract.
  *
  * The Σ basket-size² term is unbounded on real data — one crawler
  * session with 10⁵ items detonates the pair stage on its own — so the
  * production surface is [[pairRulesGuarded]], which predicts the pair
  * volume first and, when it exceeds a budget, derives the largest basket
  * cap whose residual volume still fits the budget (the containment-guard
  * convention, [[Dedup.containmentDropsGuarded]]). [[pairRules]] is the
  * open exact form: right when basket sizes are known-bounded (TPC-H
  * orders ≤ 7 items) and as the guarded form's under-budget fast path.
  */
object Association {

  /** Pairwise rules `(item_a, item_b, pair_support, lift, conf_a_to_b)`
    * with `pair_support ≥ minSupport`, items canonicalized `a < b`.
    * UNGUARDED — Σ basket-size² pair volume; see [[pairRulesGuarded]].
    */
  def pairRules(
      baskets: DataFrame,
      basketCol: String,
      itemCol: String,
      minSupport: Long = 2L): DataFrame = {
    val op = snapshotProjection(baskets, basketCol, itemCol)
    rulesFrom(op, op, minSupport, None)
  }

  /** GUARDED pairwise rules — same output contract as [[pairRules]], with
    * the pair stage's Σ basket-size² volume bounded up front:
    *
    *   1. PREDICT: the basket-size histogram (distinct sizes with counts —
    *      at most O(√|projection|) rows, since m distinct sizes need
    *      ≥ m·(m+1)/2 projection rows — a bounded driver literal by the
    *      centroid/codebook convention) gives the exact pair volume
    *      Σ c·k·(k−1)/2, summed in BigInt so an adversarial corpus cannot
    *      wrap Long and sneak under the budget.
    *   2. Under `pairBudget` → the exact open form, bit-identical to
    *      [[pairRules]] (AssociationSpec pins this).
    *   3. Over budget → the guard derives `cap` = the LARGEST basket size
    *      ≤ `hotBasketCap` whose cumulative histogram volume still fits
    *      `pairBudget` (floor 1), and baskets with more than `cap`
    *      distinct items are EXCLUDED from the pair stage. By
    *      construction the residual pair volume is ≤ `pairBudget` — a
    *      true up-front bound, not just a per-basket cost cap (a
    *      mega-basket — a crawler session, a bot cart — costs only its
    *      size to detect and contributes no pairs). Item supports and the
    *      basket universe `n` stay exact over ALL baskets, so `conf` and
    *      `lift` denominators are unchanged; `pair_support` becomes a
    *      documented UNDERCOUNT of the open form, restricted to
    *      co-occurrence within ≤ `cap`-item baskets. The degrade is
    *      observable via the `graft.basketGuard` observe metric
    *      (`hot_baskets`, `skipped_pairs` = the pair volume excised) —
    *      the no-silent-caps convention.
    *
    * Defined-approximation semantics (the q108/q130 oracle convention):
    * over-budget output is exactly "pair statistics over baskets of at
    * most `cap` distinct items with exact global denominators", where
    * `cap` is a pure function of the size histogram and the budget —
    * reproducible by any engine from the definition (q179's DuckDB oracle
    * re-derives it with one cumulative window), not a best-effort
    * truncation.
    */
  def pairRulesGuarded(
      baskets: DataFrame,
      basketCol: String,
      itemCol: String,
      minSupport: Long = 2L,
      pairBudget: Long = 1000000L,
      hotBasketCap: Int = 256): DataFrame = {
    require(pairBudget > 0, s"need pairBudget > 0, got $pairBudget")
    require(hotBasketCap > 1, s"need hotBasketCap > 1, got $hotBasketCap")
    val op = snapshotProjection(baskets, basketCol, itemCol)
    // Basket sizes, not snapshotted: on the common under-budget path the
    // histogram is their only consumer, and the over-budget branch
    // re-derives them once from the `op` checkpoint — cheaper than an
    // eager snapshot's extra job on every call (profiled as pure dispatch
    // at sf0.1).
    val bs = op.groupBy("__bk").agg(count(lit(1)).as("__k"))
    // size histogram, ascending: O(√|op|) rows — driver-bounded
    val hist = bs.groupBy("__k").agg(count(lit(1)).as("__c"))
      .orderBy("__k").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val n = hist.map(_._2).sum // basket universe, exact — threads into rulesFrom
    def vol(k: Long, c: Long): BigInt = BigInt(c) * BigInt(k) * BigInt(k - 1) / 2
    val predicted = hist.iterator.map { case (k, c) => vol(k, c) }.sum
    if (predicted <= BigInt(pairBudget)) rulesFrom(op, op, minSupport, Some(n))
    else {
      // cap = largest size ≤ hotBasketCap with cumulative volume ≤ budget
      var cum = BigInt(0)
      var cap = 1L
      hist.iterator.takeWhile(_._1 <= hotBasketCap).foreach { case (k, c) =>
        cum += vol(k, c)
        if (cum <= BigInt(pairBudget)) cap = k
      }
      // excised volume accounted in DECIMAL end to end: the prediction was
      // hardened to BigInt against corpora whose pair volume wraps Long,
      // and the no-silent-caps channel must survive the same corpora
      // (k·(k−1) is even, so the /2 is exact in decimal)
      val kd = col("__k").cast("decimal(38,0)")
      val pairVol = (kd * (kd - lit(1)) / lit(2)).cast("decimal(38,0)")
      val obs = bs.observe(s"graft.basketGuard.${Dedup.capObsId.incrementAndGet()}",
        sum(when(col("__k") > cap, 1L).otherwise(0L)).as("hot_baskets"),
        sum(when(col("__k") > cap, pairVol)
          .otherwise(lit(0).cast("decimal(38,0)"))).as("skipped_pairs"))
      // snapshot the cold BASKET LIST first — on its own, with no join
      // above the metrics node: the barrier fires the observe exactly
      // once, and keeps it immune to AQE empty-relation propagation
      // (a join above CollectMetrics whose other side turns out empty
      // would replace the whole subtree, metrics included)
      val coldBk = Stage.snapshotDF(obs.filter(col("__k") <= cap).select("__bk"))
      // cold projection feeds BOTH self-join sides — snapshot it too
      val coldOp = Stage.snapshotDF(op.join(coldBk, Seq("__bk")))
      rulesFrom(op, coldOp, minSupport, Some(n))
    }
  }

  /** The snapshotted distinct (basket, item) projection — it fans out to
    * the universe count, the item supports, and both self-join sides, so
    * the corpus-sized distinct must not re-execute per consumer. In the
    * guarded form it also feeds the basket-size aggregate and the cold
    * split join.
    */
  private def snapshotProjection(
      baskets: DataFrame, basketCol: String, itemCol: String): DataFrame =
    Stage.snapshotDF(
      baskets.select(col(basketCol).as("__bk"), col(itemCol).as("__it")).distinct())

  /** Rules with supports/universe from `op` (always the FULL projection —
    * exact denominators) and the pair stage over `pairOp` (full in the
    * open form, hot-baskets-excised in the guarded degrade). Both inputs
    * must be snapshotted: `op` feeds two consumers, `pairOp` both join
    * sides. `nOpt` is the precomputed basket-universe count when the
    * caller already paid for it (the guarded form's histogram knows it) —
    * None runs the one distinct-count job the open form needs.
    */
  private def rulesFrom(
      op: DataFrame, pairOp: DataFrame, minSupport: Long,
      nOpt: Option[Long]): DataFrame = {
    val n = nOpt.getOrElse(op.select("__bk").distinct().count())
    val itemSupp = Stage.snapshotDF(
      op.groupBy(col("__it")).agg(count(lit(1)).as("__s")))
    val pairSupp = pairOp.as("a").join(pairOp.as("b"),
        col("a.__bk") === col("b.__bk") && col("a.__it") < col("b.__it"))
      .groupBy(col("a.__it").as("item_a"), col("b.__it").as("item_b"))
      .agg(count(lit(1)).as("pair_support"))
      .filter(col("pair_support") >= minSupport)
    pairSupp
      .join(itemSupp.select(col("__it").as("item_a"), col("__s").as("__sa")), "item_a")
      .join(itemSupp.select(col("__it").as("item_b"), col("__s").as("__sb")), "item_b")
      .select(col("item_a"), col("item_b"), col("pair_support"),
        ((col("pair_support") * lit(n)).cast("double") /
          (col("__sa") * col("__sb")).cast("double")).as("lift"),
        (col("pair_support").cast("double") / col("__sa").cast("double"))
          .as("conf_a_to_b"))
  }
}
