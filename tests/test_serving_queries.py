"""SURVEY §2.2 — the serving-layer query surface the reference's
Postgres schema+indexes exist for, run against THIS engine's pipeline
output (chain fixtures → follower → parquet tables → Spark SQL).

| index in reference              | pattern exercised here            |
|---------------------------------|-----------------------------------|
| rewards_block_idx (V1:11)       | block-range scan + per-epoch sums |
| rewards_gateway_idx (V1:12)     | per-gateway earnings, top-k       |
| transactions_pkey (V3:43)       | point lookup by hash              |
| transaction_type/block (V3:46-47)| slice by type + JSON extraction  |
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from helium_etl_lite_spark.etl import fixtures
from helium_etl_lite_spark.etl.pipeline import CursorStore, FollowerConfig, IncrementalFollower

# Heavy lane (SPARK_GRAFT_TEST_LANE=full, or -m heavy; see tests/conftest.py):
# serving-view integration. The one-cursor-read contract runs by default.

SENTINEL = "1Wh4bh"


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    out_dir = str(tmp_path_factory.mktemp("serving") / "out")
    blocks, txns = fixtures.make_chain(spark, first_block=1000, n_blocks=120)
    f = IncrementalFollower(
        spark, blocks, txns, FollowerConfig(mode="full", backfill=True, out_dir=out_dir)
    )
    f.catch_up()
    rewards = spark.read.parquet(os.path.join(out_dir, "rewards"))
    transactions = spark.read.parquet(os.path.join(out_dir, "transactions"))
    rewards.createOrReplaceTempView("srv_rewards")
    transactions.createOrReplaceTempView("srv_transactions")
    return rewards, transactions, out_dir


@pytest.mark.heavy
def test_block_range_scan_per_epoch_sums(spark, served):
    rewards, _, _ = served
    out = spark.sql(
        """
        SELECT block div 30 AS epoch, SUM(amount) AS total, COUNT(*) AS n
        FROM srv_rewards WHERE block BETWEEN 1000 AND 1119
        GROUP BY block div 30 ORDER BY epoch
        """
    ).collect()
    assert len(out) >= 2
    assert all(r["total"] > 0 for r in out)


@pytest.mark.heavy
def test_per_gateway_earnings_topk(spark, served):
    rewards, _, _ = served
    top = (
        rewards.where(F.col("gateway") != SENTINEL)
        .groupBy("gateway")
        .agg(F.sum("amount").alias("earned"))
        .orderBy(F.col("earned").desc(), F.col("gateway"))
        .limit(5)
        .collect()
    )
    assert 1 <= len(top) <= 5
    assert top[0]["earned"] >= top[-1]["earned"]


@pytest.mark.heavy
def test_txn_point_lookup_by_hash(spark, served):
    _, transactions, _ = served
    some = transactions.limit(1).collect()[0]
    got = transactions.where(F.col("hash") == some["hash"]).collect()
    assert len(got) == 1  # PK semantics: exactly one row per hash
    assert got[0]["type"] == some["type"]


@pytest.mark.heavy
def test_type_slice_with_json_extraction(spark, served):
    _, transactions, _ = served
    pays = spark.sql(
        """
        SELECT hash,
               get_json_object(fields, '$.payer') AS payer,
               CAST(get_json_object(fields, '$.amount') AS BIGINT) AS amount
        FROM srv_transactions WHERE type = 'payment_v2'
        """
    )
    rows = pays.collect()
    assert len(rows) > 0
    assert all(r["payer"] is not None and r["amount"] is not None for r in rows)


@pytest.mark.heavy
def test_sentinel_rows_present_in_early_epoch(spark, served):
    rewards, _, _ = served
    # README.md:108-111 shape: early-epoch account-aggregated rewards
    # carry the sentinel gateway and type 'rewards_v2'.
    early = rewards.where(
        (F.col("gateway") == SENTINEL) & (F.col("type") == "rewards_v2")
    )
    assert early.count() > 0


@pytest.mark.heavy
class TestServingModule:
    def test_register_views_and_helpers(self, spark, served, tmp_path_factory):
        from helium_etl_lite_spark import serving

        _, _, out_dir = served
        views = serving.register_views(spark, out_dir)
        assert set(views) == {"rewards", "transactions", "follower_info"}
        fi = spark.table("follower_info").collect()
        assert fi[0]["height"] == 1119 and fi[0]["first_block"] == 1000

        ranged = serving.rewards_in_block_range(spark, 1000, 1059).collect()
        assert all(1000 <= r["block"] <= 1059 for r in ranged)
        assert all(r["total_amount"] > 0 for r in ranged)

        top = serving.gateway_earnings_topk(spark, k=3).collect()
        assert len(top) == 3
        assert top[0]["earned"] >= top[1]["earned"] >= top[2]["earned"]
        assert all(r["gateway"] != SENTINEL for r in top)

        one_hash = spark.table("transactions").select("hash").first()["hash"]
        assert serving.transaction_by_hash(spark, one_hash).count() == 1

        rv2 = serving.transactions_by_type(
            spark, "rewards_v2", json_path="$.start_epoch"
        )
        got = rv2.select("field").first()
        assert got["field"] is not None and got["field"].isdigit()

    def test_committed_views_hide_uncommitted_tail(self, spark, tmp_path, monkeypatch):
        from helium_etl_lite_spark import serving
        from helium_etl_lite_spark.etl import fixtures

        blocks, txns = fixtures.make_chain(spark, first_block=1000, n_blocks=60)
        out_dir = str(tmp_path / "out")
        f = IncrementalFollower(
            spark, blocks, txns,
            FollowerConfig(mode="rewards", backfill=True, out_dir=out_dir,
                           max_blocks_per_batch=30),
        )
        assert f.run_once() == 30  # commits 1000..1029

        def crash(self, height, first_block):
            raise RuntimeError("crash before the cursor write")

        monkeypatch.setattr(CursorStore, "write", crash)
        with pytest.raises(RuntimeError, match="crash before the cursor write"):
            f.run_once()  # data for 1030..1059 landed, cursor NOT bumped
        monkeypatch.undo()
        serving.register_views(spark, out_dir)
        assert spark.sql(
            "SELECT COUNT(*) AS n FROM rewards WHERE block > 1029"
        ).first()["n"] == 0  # committed view: invisible
        serving.register_views(spark, out_dir, committed=False)
        assert spark.sql(
            "SELECT COUNT(*) AS n FROM rewards WHERE block > 1029"
        ).first()["n"] > 0  # raw view: visible


@pytest.mark.heavy
def test_register_views_raises_on_corrupt_transactions(spark, tmp_path):
    # ADVICE r2: only a MISSING transactions table means "mode produced
    # none" — a corrupt table must raise, not silently drop the view.
    from helium_etl_lite_spark import serving

    blocks, txns = fixtures.make_chain(spark, first_block=1000, n_blocks=60)
    out_dir = str(tmp_path / "out")
    IncrementalFollower(
        spark, blocks, txns,
        FollowerConfig(mode="rewards", out_dir=out_dir, backfill=True),
    ).catch_up()
    # rewards-only mode: no transactions table -> view quietly absent
    views = serving.register_views(spark, out_dir)
    assert "transactions" not in views
    # now plant a corrupt transactions table: must propagate, not vanish
    tdir = os.path.join(out_dir, "transactions")
    os.makedirs(tdir)
    with open(os.path.join(tdir, "part-0000.parquet"), "wb") as f:
        f.write(b"this is not parquet")
    with pytest.raises(Exception) as exc_info:
        serving.register_views(spark, out_dir)
    assert "PATH_NOT_FOUND" not in str(exc_info.value)


def test_register_views_cuts_every_view_at_one_cursor_read(spark, tmp_path, monkeypatch):
    # A commit landing while the views are registered must not tear
    # them: the cursor is read once and rewards, transactions and
    # follower_info are all cut at that height. The substituted reader
    # reports a higher cursor on every call, as if the follower
    # committed between reads.
    from helium_etl_lite_spark import serving

    blocks, txns = fixtures.make_chain(spark, first_block=1000, n_blocks=60)
    out_dir = str(tmp_path / "out")
    IncrementalFollower(
        spark, blocks, txns,
        FollowerConfig(mode="full", backfill=True, out_dir=out_dir, block_range_size=20),
    ).catch_up()
    heights = iter([1019, 1049, 1059, 1059, 1059])
    monkeypatch.setattr(CursorStore, "_read_dir", lambda self, path: (next(heights), 1000))
    views = serving.register_views(spark, out_dir, range_size=20)
    (cut,) = [r["height"] for r in views["follower_info"].collect()]
    assert cut == 1019
    for table in ("rewards", "transactions"):
        raw = spark.read.parquet(os.path.join(out_dir, table))
        assert views[table].count() == raw.where(F.col("block") <= cut).count(), table
