"""Streaming data-quality gate: the foreachBatch twin of
operators/quality.lineitem_expectations — violation counts maintained
as lineitem batches arrive, so the publish gate is always current
instead of a nightly scan.

Rule shapes and their streaming form:
- **row predicates**: evaluated batch-locally (the same single
  conditional-aggregate pass) and landed as per-epoch (rule,
  n_violations, sample_key) rows — cumulative count = Σ epochs, sample
  = MIN over epochs, both exactly associative.
- **FK integrity**: the batch anti-joins the static parent keys —
  a stream-static join, cost ∝ batch.
- **PK uniqueness**: the one rule that is NOT batch-local (a duplicate
  can span batches), so the state keeps per-epoch observed KEY COUNTS
  (aggregated per batch — state ∝ distinct keys, the irreducible
  uniqueness state) and the read side groups them once. This makes the
  drained state bit-equal to the batch gate over the union of batches.
- the parent-table rule (o_totalprice) is static-table property, not
  stream state — the read side evaluates it directly.

Epochs land in ``_epoch=<id>`` partitions with dynamic partition
overwrite (the fold.py exactly-once discipline): a re-delivered epoch
replaces its own rows, so replay is idempotent — tested, along with
drained ≡ batch-gate equality on every rule."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fold import overwrite_partitions, run_concurrent

def _batch_rule_rows(batch: DataFrame, orders: DataFrame) -> DataFrame:
    """Batch-local rule rows: the four row predicates in one scan plus
    the FK anti join — (rule, n_violations, sample_key)."""
    from ..operators.quality import _rule_row

    preds = [
        _rule_row(
            "l_quantity_between_1_50",
            ~F.col("l_quantity").between(1.0, 50.0) | F.col("l_quantity").isNull(),
            F.col("l_orderkey"),
        ),
        _rule_row(
            "l_quantity_gt_45_audit", F.col("l_quantity") > 45.0, F.col("l_orderkey")
        ),
        _rule_row(
            "l_discount_between_0_0p1",
            ~F.col("l_discount").between(0.0, 0.1) | F.col("l_discount").isNull(),
            F.col("l_orderkey"),
        ),
        _rule_row(
            "l_shipdate_not_null", F.col("l_shipdate").isNull(), F.col("l_orderkey")
        ),
    ]
    agg_exprs = []
    for i, (_, n, s) in enumerate(preds):
        agg_exprs += [n.alias(f"n{i}"), s.alias(f"s{i}")]
    one = batch.agg(*agg_exprs)
    rows = F.array(
        *[
            F.struct(
                preds[i][0].alias("rule"),
                F.col(f"n{i}").alias("n_violations"),
                F.col(f"s{i}").alias("sample_key"),
            )
            for i in range(len(preds))
        ]
    )
    scan_rules = one.select(F.explode(rows).alias("r")).select("r.*")
    fk = batch.join(
        orders.select("o_orderkey"),
        F.col("l_orderkey") == F.col("o_orderkey"),
        "left_anti",
    ).agg(
        F.lit("fk_lineitem_orderkey_in_orders").alias("rule"),
        F.count(F.lit(1)).cast("long").alias("n_violations"),
        F.min("l_orderkey").cast("long").alias("sample_key"),
    )
    return scan_rules.unionByName(fk)


def merge_quality_batch(
    spark: SparkSession,
    batch: DataFrame,
    orders: DataFrame,
    state_dir: str,
    epoch_id: int = 0,
) -> None:
    """Fold one lineitem batch into the quality state: per-epoch rule
    rows + per-epoch PK key counts, both landed with epoch overwrite."""
    if batch.isEmpty():
        return
    # Project to the five rule-bearing columns BEFORE materializing (opt
    # guide §2.3 — the checkpoint was carrying every lineitem column);
    # the rule scan, the FK anti join, and the PK key counts read only
    # these.
    batch = batch.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_shipdate"
    ).localCheckpoint(eager=True)
    keys = batch.groupBy("l_orderkey", "l_linenumber").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    # both state writes read only the checkpointed batch (+ the static
    # parent) — independent jobs, submitted concurrently (§2.6)
    run_concurrent(
        lambda: overwrite_partitions(
            _batch_rule_rows(batch, orders), f"{state_dir}/rules", epoch_id=epoch_id
        ),
        lambda: overwrite_partitions(keys, f"{state_dir}/keys", epoch_id=epoch_id),
    )


def read_quality_state(
    spark: SparkSession, state_dir: str, orders: DataFrame
) -> DataFrame:
    """The current gate: cumulative rule rows in the batch entry's exact
    shape (rule, n_violations, sample_key)."""
    rules = (
        spark.read.parquet(f"{state_dir}/rules")
        .groupBy("rule")
        .agg(
            F.sum("n_violations").cast("long").alias("n_violations"),
            F.min("sample_key").cast("long").alias("sample_key"),
        )
    )
    pk = (
        spark.read.parquet(f"{state_dir}/keys")
        .groupBy("l_orderkey", "l_linenumber")
        .agg(F.sum("c").alias("c"))
        .filter(F.col("c") > 1)
        .agg(
            F.lit("pk_unique_orderkey_linenumber").alias("rule"),
            F.count(F.lit(1)).cast("long").alias("n_violations"),
            F.min("l_orderkey").cast("long").alias("sample_key"),
        )
    )
    parent = orders.agg(
        F.lit("o_totalprice_nonnegative").alias("rule"),
        F.sum(
            F.when(
                (F.col("o_totalprice") < 0) | F.col("o_totalprice").isNull(), 1
            ).otherwise(0)
        ).cast("long").alias("n_violations"),
        F.min(
            F.when(
                (F.col("o_totalprice") < 0) | F.col("o_totalprice").isNull(),
                F.col("o_orderkey"),
            )
        ).cast("long").alias("sample_key"),
    )
    return rules.unionByName(pk).unionByName(parent)

