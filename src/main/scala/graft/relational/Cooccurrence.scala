package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.CheckpointPolicy

/** Item co-occurrence graph CONSTRUCTION from an interaction log — the
  * related-items / recommender primitive: two items are connected when
  * the same actors touch both, weighted by LIFT
  * `P(a,b) / (P(a)·P(b)) = n_ab·N / (n_a·n_b)` so globally-popular
  * items do not dominate raw co-counts (the reason co-count alone is
  * a popularity chart, not a similarity graph). PMI is log(lift) — a
  * monotone transform, so ranking by lift IS ranking by PMI without
  * ever leaving exact arithmetic.
  *
  * Everything is exact integers: distinct (actor, item) pairs, one
  * combinable count per item, an actor-keyed self-join for pair
  * counts, and lift reported milli-exact through decimal(38,0)
  * arithmetic + one truncating integral division (`div` ≡ DuckDB `//`,
  * the house convention) — `1000·n_ab·N` stays inside decimal(38,0)
  * for any N below ~10^17 actors, far past the i64 bound a plain-long
  * product would hit near 3·10^9.
  *
  * Scale shape (100 TB of logs): the log collapses to DISTINCT
  * (actor, item) rows first (one combinable pass); the pair join is
  * keyed on the actor, so its cost is Σ_actors deg(actor)² — bounded
  * by the busiest actor, which is why `maxActorItems` exists: actors
  * touching more than the cap (bots, crawlers, shared accounts — the
  * standard filter in production co-occurrence jobs) are dropped whole
  * via a broadcast anti-join of the (tiny) hot-actor frame, bounding
  * every actor's contribution at cap². `minSupport` bounds the output
  * to pairs with real evidence. N (and the per-item counts) are
  * computed over the SURVIVING actors, so the lift probabilities and
  * the pair counts describe the same population.
  *
  * Output: (item_a, item_b, n_ab, n_a, n_b, lift_milli), item_a <
  * item_b, one row per unordered pair with n_ab ≥ minSupport.
  */
object Cooccurrence {

  def itemPairs(
      interactions: DataFrame, actorCol: String, itemCol: String,
      minSupport: Long = 1L, maxActorItems: Int = 0): DataFrame = {
    require(minSupport >= 1L, s"minSupport must be >= 1, got $minSupport")
    val dist0 = interactions
      .select(col(actorCol).as("u"), col(itemCol).as("i"))
      .distinct()
    val dist =
      if (maxActorItems <= 0) dist0
      else {
        val hot = dist0.groupBy(col("u")).agg(count(lit(1)).as("_d"))
          .filter(col("_d") > maxActorItems)
          .select(col("u"))
        dist0.join(broadcast(hot), Seq("u"), "left_anti")
      }
    val pinned = CheckpointPolicy.pin(dist) // reused: N, item counts, both join sides
    val nUsers = pinned.agg(countDistinct(col("u")).as("N"))
    val itemCounts = pinned.groupBy(col("i")).agg(count(lit(1)).as("n_i"))
    val pairs = pinned.as("a")
      .join(pinned.as("b"),
        col("a.u") === col("b.u") && col("a.i") < col("b.i"))
      .groupBy(col("a.i").as("item_a"), col("b.i").as("item_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSupport)
    pairs
      .join(itemCounts.select(col("i").as("item_a"), col("n_i").as("n_a")),
        Seq("item_a"))
      .join(itemCounts.select(col("i").as("item_b"), col("n_i").as("n_b")),
        Seq("item_b"))
      .crossJoin(broadcast(nUsers))
      .select(col("item_a"), col("item_b"), col("n_ab"), col("n_a"), col("n_b"),
        expr("CAST((CAST(1000 AS DECIMAL(38,0)) * n_ab * N) div (n_a * n_b)" +
          " AS BIGINT)").as("lift_milli"))
  }
}
