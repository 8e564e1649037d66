"""Streaming record-linkage maintenance: a foreachBatch sink that keeps
the blocked fuzzy-match state (standing name table + verified link
pairs) current as entity batches arrive — ingestion-time entity
resolution as a continuous process, built from the batch kernel
(operators/linkage.py) so the drained end state matches the
from-scratch batch build (tested).

Per micro-batch, cost ∝ batch (the incremental-dedup contract):
  1. the batch's distinct names + multiplicities (one grouped count);
  2. new links = blocked Levenshtein pairs with ≥ 1 batch endpoint
     (batch×state ∪ batch×batch — state×state pairs cannot change and
     are never recomputed);
  3. state append: names land in ``_epoch=<id>`` partitions whose
     multiplicities SUM on read; links land per-epoch and DISTINCT on
     read (the same verified pair may be re-derived by later batches of
     the same names — distinct-on-read makes that harmless).

Replay safety: dynamic partition overwrite per epoch (the fold.py
exactly-once discipline); the state side of the candidate join excludes
the current epoch's own partition, so a re-delivered epoch re-derives
identical rows instead of pairing against itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.linkage import blocked_levenshtein_pairs, with_block
from .fold import overwrite_partitions, read_standing, read_state


def _batch_names(batch: DataFrame) -> DataFrame:
    return with_block(
        batch.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_parts"))
    )


def merge_linkage_batch(
    spark: SparkSession, batch: DataFrame, state_dir: str, epoch_id: int = 0
) -> None:
    """Fold one entity batch (p_partkey, p_name) into the persisted
    linkage state at ``state_dir`` ({names,links} parquet)."""
    if batch.isEmpty():
        return
    names_dir = f"{state_dir}/names"
    links_dir = f"{state_dir}/links"

    bn = _batch_names(batch.select("p_name")).localCheckpoint(eager=True)

    standing = read_standing(spark, names_dir, epoch_id)  # replay: never self-pair
    if standing is not None:
        state_names = standing.select("p_name", "block").distinct()
        links = blocked_levenshtein_pairs(
            bn, state_names.unionByName(bn.select("p_name", "block"))
        )
    else:
        links = blocked_levenshtein_pairs(bn, bn)
    links = links.localCheckpoint(eager=True)

    overwrite_partitions(bn, names_dir, epoch_id=epoch_id)
    overwrite_partitions(links, links_dir, epoch_id=epoch_id)


_LINKS_SCHEMA = "block string, name_a string, name_b string, distance int"


def read_linkage_state(spark: SparkSession, state_dir: str) -> tuple[DataFrame, DataFrame]:
    """(names, links): standing name multiplicities (summed over epochs)
    and the distinct verified link set. A link-free history — the
    partitioned write of an empty links frame leaves only _SUCCESS (or
    no dir at all), and schema inference would fail — reads as an empty
    frame, mirroring read_containment_links (ADVICE r4)."""
    names = (
        spark.read.parquet(f"{state_dir}/names")
        .groupBy("p_name", "block")
        .agg(F.sum("n_parts").alias("n_parts"))
    )
    links = (
        read_state(spark, f"{state_dir}/links", _LINKS_SCHEMA)
        .select("block", "name_a", "name_b", "distance")
        .distinct()
    )
    return names, links

