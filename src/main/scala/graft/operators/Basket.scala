package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Graft.fill
import graft.Tables._

/** Market-basket association mining over lineitem: each order is a basket,
  * its distinct part keys are the items. The co-occurrence candidates come
  * from a SELF-EQUI-JOIN on the basket key — the scalable apriori shape:
  *
  *   - both join sides hash-partition on `l_orderkey`, so pair generation
  *     is co-located and the blowup is bounded by the basket size (≤7
  *     lines/order in TPC-H; a per-basket item cap would bound arbitrary
  *     data) — never an item × item cross product;
  *   - pair counting and item counting are map-side-combined groupBys;
  *   - lift/confidence divisions happen on exact longs AFTER aggregation,
  *     so both engines divide identical integers.
  *
  * At 100 TB this is co-occurrence mining (products, n-grams, link pairs):
  * the only corpus-sized shuffles are the two hash aggs; the pair frame is
  * data-dependent but pruned by the min-support filter before any join
  * against the item-count side.
  */
object Basket {

  val MinSupport = 2
  val TopK = 100

  /** Per-order sorted distinct item sets — the mining input, ONE
    * map-side-combined aggregation exchange on the basket key. Since r13
    * this replaces the former distinct-pairs relation + self-join: the
    * (order, part) `distinct()` paid its own exchange on BOTH columns
    * before every consumer re-shuffled (pair join on l_orderkey, item
    * counts on l_partkey, order count on l_orderkey — guide §2.4), and
    * the pair self-join re-read the exchange output twice. collect_set
    * dedups (order, part) inside the aggregation buffers, the basket-size
    * bound (≤7 lines/order in TPC-H) bounds every set, and sort_array
    * makes positional pair expansion equal to the old x.part < y.part
    * join predicate row-for-row.
    */
  private def basketSets(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("l_partkey"))).as("items"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Basket-size histogram: how many orders carry k distinct parts —
    // the skew diagnostic that justifies the bounded pair expansion.
    "basket_sizes" -> { (s, d) =>
      basketSets(s, d)
        .select(size(col("items")).as("basket_size"))
        .groupBy("basket_size")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("basket_size")
    },

    // Association rules: top pairs by support with confidence and lift.
    // Ties broken by (item_a, item_b) for a deterministic total order.
    "basket_rules" -> { (s, d) =>
      val b = basketSets(s, d)
      fill(b, "Basket.basket_rules/b") // read by itemCnt, nOrders and the pair probe
      val itemCnt = b.select(explode(col("items")).as("l_partkey"))
        .groupBy("l_partkey").agg(count(lit(1)).as("cnt"))
      val nOrders = b.agg(count(lit(1)).as("n_orders"))
      // pair expansion from each sorted set: items(i) < items(j) for all
      // i < j, so two chained generates emit exactly the old join's
      // (x.part < y.part) pairs — bounded by the basket size, no join,
      // no second read of the basket relation.
      val pairs = b
        .select(posexplode(col("items")).as(Seq("i", "item_a")), col("items"))
        .select(col("item_a"),
          explode(slice(col("items"), col("i") + lit(2),
            size(col("items")) - col("i") - lit(1))).as("item_b"))
        .groupBy("item_a", "item_b")
        .agg(count(lit(1)).as("pair_cnt"))
        .where(col("pair_cnt") >= MinSupport)
      pairs
        .join(itemCnt.withColumnRenamed("l_partkey", "item_a")
          .withColumnRenamed("cnt", "cnt_a"), "item_a")
        .join(itemCnt.withColumnRenamed("l_partkey", "item_b")
          .withColumnRenamed("cnt", "cnt_b"), "item_b")
        .crossJoin(broadcast(nOrders))
        .select(col("item_a"), col("item_b"), col("pair_cnt"),
          col("cnt_a"), col("cnt_b"),
          round(col("pair_cnt").cast("double") / col("cnt_a").cast("double"), 6)
            .as("confidence"),
          round(col("pair_cnt").cast("double") * col("n_orders").cast("double")
            / (col("cnt_a").cast("double") * col("cnt_b").cast("double")), 6)
            .as("lift"))
        .orderBy(col("pair_cnt").desc, col("item_a"), col("item_b"))
        .limit(TopK)
    }
  )

  val oracles: Map[String, String] = Map(
    "basket_sizes" ->
      """WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT basket_size, count(*) AS n_orders
        |FROM (SELECT l_orderkey, CAST(count(*) AS INTEGER) AS basket_size
        |      FROM b GROUP BY l_orderkey)
        |GROUP BY basket_size ORDER BY basket_size""".stripMargin,

    "basket_rules" ->
      s"""WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |ic AS (SELECT l_partkey, count(*) AS cnt FROM b GROUP BY l_partkey),
         |no AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM b),
         |pr AS (SELECT x.l_partkey AS item_a, y.l_partkey AS item_b,
         |    count(*) AS pair_cnt
         |  FROM b x JOIN b y
         |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
         |  GROUP BY 1, 2 HAVING count(*) >= $MinSupport)
         |SELECT item_a, item_b, pair_cnt, ca.cnt AS cnt_a, cb.cnt AS cnt_b,
         |  round(CAST(pair_cnt AS DOUBLE)/CAST(ca.cnt AS DOUBLE), 6) AS confidence,
         |  round(CAST(pair_cnt AS DOUBLE)*CAST(n_orders AS DOUBLE)
         |    /(CAST(ca.cnt AS DOUBLE)*CAST(cb.cnt AS DOUBLE)), 6) AS lift
         |FROM pr JOIN ic ca ON pr.item_a = ca.l_partkey
         |  JOIN ic cb ON pr.item_b = cb.l_partkey
         |  CROSS JOIN no
         |ORDER BY pair_cnt DESC, item_a, item_b LIMIT $TopK""".stripMargin
  )
}
