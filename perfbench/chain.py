"""Seeded synthetic Helium chain for the ETL workloads.

The chain is built with numpy from a generator seeded by `--seed`, so the
same seed gives byte-identical blocks and payloads on every run:

- every block carries 8-12 `payment_v2` envelopes;
- every block at a multiple of `EPOCH_LEN` also carries one `rewards_v2`
  envelope whose payload holds a few thousand rewards (the per-epoch
  shape of real Helium reward transactions);
- reward types follow the reference's null rules: `overages` rewards have
  no account and `securities` rewards have no gateway, so both sentinel
  paths of the transform are exercised.

`expected_totals` recomputes, in DuckDB over the landed source files,
what a correct follower must have written for a height range; the
workloads compare it with DuckDB over the follower's output files.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from helium_etl_lite_spark.etl.schemas import BLOCK_SCHEMA, SENTINEL, TXN_SCHEMA

EPOCH_LEN = 30
REWARD_TYPES = ["poc_witnesses", "poc_challengees", "securities", "overages", "data_credits"]
N_ACCOUNTS = 4000
N_GATEWAYS = 6000
ENVELOPE = pa.list_(pa.struct([("type", pa.string()), ("hash", pa.string())]))


def _rewards_json(rng: np.random.Generator, h: int, n: int) -> str:
    kinds = rng.integers(0, len(REWARD_TYPES), n)
    accts = rng.integers(0, N_ACCOUNTS, n)
    gws = rng.integers(0, N_GATEWAYS, n)
    amounts = rng.integers(1, 5001, n)
    rewards = []
    for k, a, g, v in zip(kinds.tolist(), accts.tolist(), gws.tolist(), amounts.tolist()):
        kind = REWARD_TYPES[k]
        r = {}
        if kind != "overages":
            r["account"] = f"acct{a}"
        if kind != "securities":
            r["gateway"] = f"gw{g}"
        r["amount"] = v
        r["type"] = kind
        rewards.append(r)
    return json.dumps({"start_epoch": h - EPOCH_LEN, "end_epoch": h, "rewards": rewards}, separators=(",", ":"))


def make_chain(seed: int, first_block: int, n_blocks: int, rewards_per_epoch: int) -> tuple[pa.Table, pa.Table]:
    """(blocks, txns) for heights [first_block, first_block + n_blocks).

    Rewards per epoch vary by +-5% around `rewards_per_epoch`; payments
    per block vary from 8 to 12."""
    rng = np.random.default_rng(seed)
    spread = max(1, rewards_per_epoch // 10)
    heights = list(range(first_block, first_block + n_blocks))
    envelopes, tx_hash, tx_type, tx_fields = [], [], [], []
    for h in heights:
        n_pay = int(rng.integers(8, 13))
        payer, payee = rng.integers(0, N_ACCOUNTS, (2, n_pay)).tolist()
        amount = rng.integers(1, 501, n_pay).tolist()
        nonce = rng.integers(0, 100_000, n_pay).tolist()
        env = []
        for i in range(n_pay):
            th = f"pay-{h}-{i}"
            env.append({"type": "payment_v2", "hash": th})
            tx_hash.append(th)
            tx_type.append("payment_v2")
            tx_fields.append(
                f'{{"payer":"acct{payer[i]}","payee":"acct{payee[i]}","amount":{amount[i]},"nonce":{nonce[i]}}}'
            )
        if h % EPOCH_LEN == 0:
            th = f"rew-{h}"
            env.append({"type": "rewards_v2", "hash": th})
            tx_hash.append(th)
            tx_type.append("rewards_v2")
            n_rew = rewards_per_epoch - spread // 2 + int(rng.integers(0, spread))
            tx_fields.append(_rewards_json(rng, h, n_rew))
        envelopes.append(env)
    blocks = pa.table(
        {
            "height": pa.array(heights, pa.int64()),
            "time": pa.array([1_600_000_000 + 60 * h for h in heights], pa.int64()),
            "hash": [hashlib.sha256(f"{seed}/{h}".encode()).hexdigest() for h in heights],
            "transactions": pa.array(envelopes, ENVELOPE),
        }
    )
    txns = pa.table({"hash": tx_hash, "type": tx_type, "fields": tx_fields})
    return blocks, txns


def land_chain(spark: SparkSession, blocks: pa.Table, txns: pa.Table, src_dir: str) -> tuple[DataFrame, DataFrame]:
    """Write the chain as parquet and open it with the declared source
    schemas, as `cli._sources` does for a parquet source."""
    bp, tp = os.path.join(src_dir, "blocks"), os.path.join(src_dir, "txns")
    for path, table in ((bp, blocks), (tp, txns)):
        os.makedirs(path, exist_ok=True)
        pq.write_table(table, os.path.join(path, "part-0.parquet"))
    return spark.read.schema(BLOCK_SCHEMA).parquet(bp), spark.read.schema(TXN_SCHEMA).parquet(tp)


_REWARDS_JSON = '[{"account":"VARCHAR","gateway":"VARCHAR","amount":"BIGINT","type":"VARCHAR"}]'


def expected_totals(con: duckdb.DuckDBPyConnection, src_dir: str, lo: int, hi: int) -> dict:
    """What a correct `full`-mode follower lands for heights [lo, hi],
    computed by DuckDB from the source parquet alone."""
    blocks = f"read_parquet('{src_dir}/blocks/*.parquet')"
    txns = f"read_parquet('{src_dir}/txns/*.parquet')"
    rew = con.execute(
        f"""
        WITH env AS (
          SELECT height, unnest(transactions).hash AS th, unnest(transactions).type AS tt
          FROM {blocks} WHERE height BETWEEN {lo} AND {hi}),
        r AS (
          SELECT unnest(from_json(json_extract(t.fields, '$.rewards'), '{_REWARDS_JSON}')) AS r
          FROM env JOIN {txns} t ON t.hash = env.th WHERE env.tt = 'rewards_v2')
        SELECT count(*), coalesce(sum(r.amount), 0),
               count(*) FILTER (WHERE r.account IS NULL),
               count(*) FILTER (WHERE r.gateway IS NULL)
        FROM r
        """
    ).fetchone()
    n_txns = con.execute(
        f"""SELECT count(DISTINCT e.hash) FROM
            (SELECT unnest(transactions).hash AS hash FROM {blocks}
             WHERE height BETWEEN {lo} AND {hi}) e"""
    ).fetchone()[0]
    return {
        "rewards": int(rew[0]),
        "amount": int(rew[1]),
        "sentinel_accounts": int(rew[2]),
        "sentinel_gateways": int(rew[3]),
        "txns": int(n_txns),
    }


def landed_totals(con: duckdb.DuckDBPyConnection, out_dir: str, lo: int, hi: int) -> dict:
    """The same figures as `expected_totals`, read from the follower's
    output tables (hive-partitioned parquet) for heights [lo, hi]."""
    rew = con.execute(
        f"""SELECT count(*), coalesce(sum(amount), 0),
                   count(*) FILTER (WHERE account = '{SENTINEL}'),
                   count(*) FILTER (WHERE gateway = '{SENTINEL}')
            FROM read_parquet('{out_dir}/rewards/*/*.parquet', hive_partitioning = true)
            WHERE block BETWEEN {lo} AND {hi}"""
    ).fetchone()
    n_txns = con.execute(
        f"""SELECT count(DISTINCT hash)
            FROM read_parquet('{out_dir}/transactions/*/*.parquet', hive_partitioning = true)
            WHERE block BETWEEN {lo} AND {hi}"""
    ).fetchone()[0]
    return {
        "rewards": int(rew[0]),
        "amount": int(rew[1]),
        "sentinel_accounts": int(rew[2]),
        "sentinel_gateways": int(rew[3]),
        "txns": int(n_txns),
    }


def cursor_height(con: duckdb.DuckDBPyConnection, out_dir: str) -> int | None:
    """The committed cursor height, read from the cursor table's files."""
    path = os.path.join(out_dir, "_meta", "follower_info")
    if not os.path.isdir(path):
        return None
    row = con.execute(f"SELECT max(height) FROM read_parquet('{path}/*.parquet')").fetchone()
    return None if row[0] is None else int(row[0])
