"""Serving layer (SURVEY §2.2): the relational query surface the
reference's Postgres schema + indexes exist for, over THIS engine's
output tables.

A helium-etl-lite user points psql at `rewards` / `transactions` /
`follower_info` (migrations V1-V3) and runs block-range sums, gateway
top-k, hash lookups and JSONB extraction. register_views() exposes the
same three names to Spark SQL; the canned helpers below are the
patterns each reference index was built for:

| reference index                   | helper                      |
|-----------------------------------|-----------------------------|
| rewards_block_idx (V1:11)         | rewards_in_block_range      |
| rewards_gateway_idx (V1:12)       | gateway_earnings_topk       |
| transactions_pkey (V3:43)         | transaction_by_hash         |
| transaction_type/block (V3:46-47) | transactions_by_type        |

Consistency: the views come from the follower's sink (etl/pipeline.py
open_sink, by the layout on disk), cut at ONE read of its committed
state, so a query never observes blocks past the follower's cursor —
the same isolation the reference gets from Postgres transactions — and
all three views agree on where that cursor is. Pass committed=False for
raw (uncommitted-tail-visible) reads of a plain sink.

Scale: the views are plain partitioned parquet; block predicates prune
`block_range` directories, gateway/type predicates push to parquet row
groups — the B-tree indexes' job, done by layout + pushdown instead.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .errors import is_path_not_found
from .etl.pipeline import open_sink
from .etl.schemas import FOLLOWER_INFO_SCHEMA

SENTINEL = "1Wh4bh"


def register_views(
    spark: SparkSession,
    out_dir: str,
    committed: bool = True,
    range_size: int = 1000,
    at_version: int | None = None,
    changes_since: int | None = None,
    change_key_cols: list[str] | None = None,
) -> dict[str, DataFrame]:
    """Expose the output tables under the reference's table names.
    `transactions` is registered only when the pipeline mode produced it
    (full mode). Returns the DataFrames keyed by view name.
    `at_version` time-travels an atomic-sink store to a historical
    snapshot; requesting it against a plain (non-atomic) sink raises —
    plain sinks keep no history to travel to. `changes_since` (atomic
    sinks only) additionally registers `<table>_changes` views holding
    the CDC diff from that version to the served one (read_changes:
    '_change_type' insert/delete, partition-pruned by manifest diff).
    `change_key_cols` upgrades those views to the KEYED feed: in-place
    changes of a key pair as update_preimage/update_postimage (the
    Delta-CDF contract; tables missing a key column keep the plain
    feed — a shared key list serves heterogeneous stores)."""
    sink = open_sink(spark, out_dir, range_size=range_size)
    # ONE read of the committed state; every view is cut at it, so a
    # commit landing mid-registration cannot tear the views apart.
    state = sink.committed(at_version)
    # before any table read, so a sink without history refuses
    # --changes-since even where it has no tables yet
    changes = {} if changes_since is None else sink.changes(
        state, changes_since, change_key_cols
    )
    views = {"rewards": sink.read("rewards", state, committed)}
    # Only a missing table path means "mode produced no transactions";
    # any other failure (corrupt files, bad out_dir, cursor errors) must
    # surface, not silently drop the view (ADVICE r2).
    try:
        views["transactions"] = sink.read("transactions", state, committed)
    except AnalysisException as exc:
        if not is_path_not_found(exc):
            raise
        # rewards/filters mode: no transactions table
    views["follower_info"] = spark.createDataFrame(
        [] if state is None else [(state["height"], state["first_block"])],
        FOLLOWER_INFO_SCHEMA,
    )
    views.update(changes)
    for name, df in views.items():
        df.createOrReplaceTempView(name)
    return views


def rewards_in_block_range(spark: SparkSession, lo: int, hi: int) -> DataFrame:
    """rewards_block_idx pattern: range scan + per-block sums. The
    BETWEEN predicate prunes block_range partitions before any IO."""
    return spark.sql(
        f"""
        SELECT block, SUM(amount) AS total_amount, COUNT(*) AS n_rewards
        FROM rewards WHERE block BETWEEN {int(lo)} AND {int(hi)}
        GROUP BY block ORDER BY block
        """
    )


def gateway_earnings_topk(spark: SparkSession, k: int = 10) -> DataFrame:
    """rewards_gateway_idx pattern: per-gateway earnings, top-k. The
    top-k plans as TakeOrderedAndProject (per-partition heaps)."""
    return spark.sql(
        f"""
        SELECT gateway, SUM(amount) AS earned, COUNT(*) AS n_rewards
        FROM rewards WHERE gateway <> '{SENTINEL}'
        GROUP BY gateway ORDER BY earned DESC, gateway LIMIT {int(k)}
        """
    )


def transaction_by_hash(spark: SparkSession, hash: str) -> DataFrame:
    """transactions_pkey pattern: point lookup."""
    return spark.table("transactions").where(F.col("hash") == hash)


def transactions_by_type(
    spark: SparkSession, txn_type: str, json_path: str | None = None
) -> DataFrame:
    """transaction_type_idx pattern: slice by type, optionally
    extracting a field from the opaque JSON payload (the jsonb column,
    migrations/V3:41)."""
    out = spark.table("transactions").where(F.col("type") == txn_type)
    if json_path is not None:
        out = out.withColumn("field", F.get_json_object("fields", json_path))
    return out
