"""The three workloads. Each one makes its inputs from the seed, sets
up the system on them (`ctx.set_up`, which times it), calls
`ctx.start_measuring()`, measures for `ctx.seconds`, then checks its
outputs outside the timed region.

A workload's unit of work is a pass: one catch-up (backfill_dense), one
follower poll with the serving requests before it (tail_serve), or one
round of the 12 headline queries (query_suite). The end-to-end
`cpu_s_per_pass` is the mean CPU time of the run's passes. The wall-clock
figures are reported as `wall.*` (see README.md):

- `throughput_per_s`: backfill_dense: blocks landed per second;
  tail_serve: serving requests per second (4 kinds over the sum of each
  kind's median time); query_suite: headline queries per second (12 over
  the sum of each query's median time).
- `latency_s_p50` / `latency_s_tail`: backfill_dense: wall time of one
  committed batch; tail_serve: per-block visible lag (due time to the
  cursor commit that includes the block); query_suite: the median of the
  per-query medians and the slowest query's median.
"""

from __future__ import annotations

import contextlib
import dataclasses
import gc
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

import duckdb
from pyspark.sql import functions as F

from helium_etl_lite_spark import serving
from helium_etl_lite_spark.etl.pipeline import FollowerConfig, IncrementalFollower
from helium_etl_lite_spark.etl.schemas import SENTINEL

from . import chain
from .common import mix_throughput, summarize, tree_cpu_s

FIRST_BLOCK = 60_000  # a multiple of both EPOCH_LEN and RANGE_SIZE
RANGE_SIZE = 200


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    scale: float
    work: str
    trace: object = None  # perfbench.layers.Trace when --trace 1
    measure_start: float = 0.0
    setup_s: float = 0.0
    setup_detail: dict = field(default_factory=dict)

    def set_up(self, prepare):
        """Run and time `prepare()`, which returns (state, seconds to leave
        out, detail): the benchmark's own input generation and output
        checks are not the system's set-up."""
        t0 = time.perf_counter()
        state, excluded_s, self.setup_detail = prepare()
        self.setup_s = time.perf_counter() - t0 - excluded_s
        self.setup_detail["excluded_s"] = excluded_s
        return state

    def start_measuring(self) -> None:
        # every run starts measuring from a collected heap, so whether a
        # collection cycle of set-up garbage falls into the window is not left
        # to chance
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        self.measure_start = time.perf_counter()
        if self.trace is not None:
            self.trace.start()

    def stop_measuring(self) -> None:
        if self.trace is not None:
            self.trace.stop()

    def span(self, name: str, **attrs):
        """A span of the traced run; set-up and checks record none."""
        if self.trace is None or not self.trace.active:
            return contextlib.nullcontext()
        return self.trace.rec.span(name, **attrs)

    def elapsed(self) -> float:
        return time.perf_counter() - self.measure_start


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    pass_cpu_s: list = field(default_factory=list)  # CPU seconds of each pass
    throughput_per_s: float = 0.0  # wall-clock figures, reported as wall.*
    latency: dict = field(default_factory=dict)  # summarize() of the latency series
    units: int = 1  # per-layer metrics are per unit (catch-up, tick or pass)
    extra: dict = field(default_factory=dict)  # workload-specific per-layer values
    detail: dict = field(default_factory=dict)
    block_rows: dict = field(default_factory=dict)  # height -> (rewards, txns)


def _block_rows(con, src_dir: str, lo: int, hi: int) -> dict[int, tuple[int, int]]:
    """Rows a correct follower lands per block, by DuckDB over the source."""
    rows = con.execute(
        f"""
        WITH env AS (
          SELECT height, unnest(transactions).hash AS th
          FROM read_parquet('{src_dir}/blocks/*.parquet') WHERE height BETWEEN {lo} AND {hi})
        SELECT env.height, count(*) AS n_txns,
               coalesce(sum(json_array_length(t.fields, '$.rewards')), 0) AS n_rewards
        FROM env JOIN read_parquet('{src_dir}/txns/*.parquet') t ON t.hash = env.th
        GROUP BY env.height"""
    ).fetchall()
    return {int(h): (int(r), int(t)) for h, t, r in rows}


def _follow_until_empty(follower) -> list[tuple[float, int]]:
    """run_once until nothing is left; (wall seconds, blocks) per batch."""
    batches = []
    while True:
        t0 = time.perf_counter()
        n = follower.run_once()
        if n == 0:
            return batches
        batches.append((time.perf_counter() - t0, n))


def _check_landed(con, src: str, out: str, lo: int, hi: int) -> list[str]:
    want = chain.expected_totals(con, src, lo, hi)
    got = chain.landed_totals(con, out, lo, hi)
    problems = [f"{k}: landed {got[k]} expected {want[k]}" for k in want if got[k] != want[k]]
    cur = chain.cursor_height(con, out)
    if cur != hi:
        problems.append(f"cursor {cur} != tip {hi}")
    return problems


# ----------------------------------------------------------------- backfill


def backfill_dense(ctx: Ctx) -> Outcome:
    spark = ctx.spark
    n_blocks = max(2 * RANGE_SIZE, int(1200 * ctx.scale) // RANGE_SIZE * RANGE_SIZE)
    per_batch = n_blocks // 2  # a multiple of RANGE_SIZE
    rewards_per_epoch = max(100, int(4000 * ctx.scale))
    lo, hi = FIRST_BLOCK, FIRST_BLOCK + n_blocks - 1

    def follower(out_dir, source, txns, batch=per_batch):
        cfg = FollowerConfig(
            mode="full", backfill=True, out_dir=out_dir,
            max_blocks_per_batch=batch, block_range_size=RANGE_SIZE,
        )
        return IncrementalFollower(spark, source, txns, cfg)

    def prepare():
        t0 = time.perf_counter()
        blocks, txns = chain.land_chain(spark, *chain.make_chain(ctx.seed, lo, n_blocks, rewards_per_epoch), src)
        gen_s = time.perf_counter() - t0
        # warm-up: two range-sized batches over a prefix (first write, then merge)
        prefix = blocks.where(F.col("height") < lo + 2 * RANGE_SIZE)
        _follow_until_empty(follower(os.path.join(ctx.work, "warm"), prefix, txns, RANGE_SIZE))
        return (blocks, txns), gen_s, {"chain_s": gen_s}

    src = os.path.join(ctx.work, "src")
    blocks, txns = ctx.set_up(prepare)
    con = duckdb.connect()
    out = Outcome(block_rows=_block_rows(con, src, lo, hi))

    ctx.start_measuring()
    catchups, batch_s = [], []
    k = 0
    while k == 0 or ctx.elapsed() < ctx.seconds:
        out_dir = os.path.join(ctx.work, f"out{k}")
        t0, cpu0 = time.perf_counter(), tree_cpu_s()
        with ctx.span("workload.catch_up"):
            batches = _follow_until_empty(follower(out_dir, blocks, txns))
        catchups.append((time.perf_counter() - t0, sum(n for _, n in batches), out_dir))
        out.pass_cpu_s.append(tree_cpu_s() - cpu0)
        batch_s += [s for s, _ in batches]
        k += 1
    ctx.stop_measuring()

    problems = []
    for _, n, out_dir in catchups:
        p = _check_landed(con, src, out_dir, lo, hi) + ([] if n == n_blocks else [f"landed {n} blocks"])
        out.failed += bool(p)
        problems += p
    out.attempted = len(catchups)
    out.throughput_per_s = sum(n for _, n, _ in catchups) / sum(s for s, _, _ in catchups)
    out.latency = summarize(batch_s)
    out.units = len(catchups)
    out.detail = {
        "blocks": n_blocks, "rewards_per_epoch": rewards_per_epoch, "batch_blocks": per_batch,
        "catch_up_s": [round(s, 3) for s, _, _ in catchups], "problems": problems[:5],
    }
    return out


# --------------------------------------------------------------- tail_serve

REQUESTS = ("range_sum", "gateway_topk", "txn_by_hash", "txns_by_type")


def _serve_one(spark, kind: str, rng: random.Random, out_dir: str, committed: int):
    """One serving request: views, then one query, then collect."""
    views = serving.register_views(spark, out_dir, committed=True, range_size=RANGE_SIZE)
    lo = rng.randint(FIRST_BLOCK, max(FIRST_BLOCK, committed - 49))
    if kind == "range_sum":
        params = {"lo": lo, "hi": lo + 49}
        rows = serving.rewards_in_block_range(spark, lo, lo + 49).collect()
    elif kind == "gateway_topk":
        params = {"k": 10}
        rows = serving.gateway_earnings_topk(spark, 10).collect()
    elif kind == "txn_by_hash":
        h = rng.randint(FIRST_BLOCK, committed)
        params = {"hash": f"pay-{h}-{rng.randint(0, 7)}"}
        rows = serving.transaction_by_hash(spark, params["hash"]).collect()
    else:
        params = {"lo": lo, "hi": lo + 49, "path": rng.choice(["$.amount", "$.payer"])}
        rows = (
            serving.transactions_by_type(spark, "payment_v2", json_path=params["path"])
            .where(F.col("block").between(lo, lo + 49))
            .select("hash", "field")
            .collect()
        )
    return views, params, [tuple(r) for r in rows]


def _serve_expected(con, out_dir: str, kind: str, p: dict, cursor: int) -> list[tuple]:
    rew = f"read_parquet('{out_dir}/rewards/*/*.parquet', hive_partitioning = true)"
    txn = f"read_parquet('{out_dir}/transactions/*/*.parquet', hive_partitioning = true)"
    if kind == "range_sum":
        sql = f"""SELECT block, sum(amount), count(*) FROM {rew}
                  WHERE block BETWEEN {p['lo']} AND {p['hi']} AND block <= {cursor}
                  GROUP BY block ORDER BY block"""
    elif kind == "gateway_topk":
        sql = f"""SELECT gateway, sum(amount) AS earned, count(*) FROM {rew}
                  WHERE block <= {cursor} AND gateway <> '{SENTINEL}'
                  GROUP BY gateway ORDER BY earned DESC, gateway LIMIT {p['k']}"""
    elif kind == "txn_by_hash":
        sql = f"""SELECT block, hash, type, fields, block_range FROM {txn}
                  WHERE hash = '{p['hash']}' AND block <= {cursor}"""
    else:
        sql = f"""SELECT hash, json_extract_string(fields, '{p['path']}') FROM {txn}
                  WHERE type = 'payment_v2' AND block BETWEEN {p['lo']} AND {p['hi']}
                  AND block <= {cursor} ORDER BY hash"""
    return [tuple(r) for r in con.execute(sql).fetchall()]


RATE = 10.0  # blocks due per second; see README.md for how it was chosen
POLL_S = 7.5  # the follower's poll interval (`tick_seconds` of the `start` verb)
FIRST_POLL_S = 2.5  # the first poll comes sooner, so the window is not spent waiting
REQUESTS_PER_PASS = 2  # with the tick, about 6 s of work per 7.5 s poll interval
# the landed height ends 140 blocks into a 200-block range: the first tick
# merges into that range, the second also starts the next one
N_LANDED = 140


def tail_serve(ctx: Ctx) -> Outcome:
    spark = ctx.spark
    rewards_per_epoch = max(100, int(4000 * ctx.scale))
    landed = FIRST_BLOCK + N_LANDED - 1
    n_polls = max(1, int((ctx.seconds - FIRST_POLL_S) // POLL_S) + 1)
    polls = [FIRST_POLL_S + k * POLL_S for k in range(n_polls)]  # seconds after the clock starts
    # every block the window's polls can find due, even when one starts late
    last_due = landed + int(RATE * (polls[-1] + POLL_S))

    src, out_dir = os.path.join(ctx.work, "src"), os.path.join(ctx.work, "out")

    def prepare():
        t0 = time.perf_counter()
        blocks, txns = chain.land_chain(
            spark, *chain.make_chain(ctx.seed, FIRST_BLOCK, last_due - FIRST_BLOCK + 1, rewards_per_epoch), src
        )
        gen_s = time.perf_counter() - t0
        cfg = FollowerConfig(mode="full", backfill=True, out_dir=out_dir, block_range_size=RANGE_SIZE)
        batches = _follow_until_empty(
            IncrementalFollower(spark, blocks.where(F.col("height") <= landed), txns, cfg)
        )
        # two warm-up passes on a copy of the landed output, the same work as
        # the measured ones, so that those do not pay for compiling it; the
        # copy leaves the landed state as it was
        warm_dir = os.path.join(ctx.work, "warm")
        shutil.copytree(out_dir, warm_dir)
        warm_cfg = dataclasses.replace(cfg, out_dir=warm_dir)
        warm_rng = random.Random(-ctx.seed)
        warm_kinds = warm_rng.sample(REQUESTS, len(REQUESTS))
        committed = landed
        for k, t_poll in enumerate(polls[:2]):
            for kind in warm_kinds[k * REQUESTS_PER_PASS:(k + 1) * REQUESTS_PER_PASS]:
                _serve_one(spark, kind, warm_rng, warm_dir, committed)
            committed = landed + int(RATE * t_poll)
            IncrementalFollower(spark, blocks.where(F.col("height") <= committed), txns, warm_cfg).run_once()
        shutil.rmtree(warm_dir)
        detail = {"chain_s": gen_s, "landing_batches": [(round(t, 3), n) for t, n in batches]}
        return (blocks, txns, cfg), gen_s, detail

    blocks, txns, cfg = ctx.set_up(prepare)
    con = duckdb.connect()
    out = Outcome(block_rows=_block_rows(con, src, landed + 1, last_due))

    rng = random.Random(ctx.seed)
    served, ticks, lag, late, pass_cpu = [], [], [], [], []
    committed = landed
    ctx.start_measuring()
    t_start = ctx.measure_start

    def due_time(h: int) -> float:
        return t_start + (h - landed) / RATE

    # One driver thread, one pass per poll. The follower polls at fixed times
    # while the window is open and commits every block due by then. Before
    # each poll the serving client sends a fixed number of requests (every
    # kind once per round, in a seeded order), then waits for the poll.
    kinds: list[str] = []
    for t_poll in (t_start + t for t in polls):
        cpu0 = tree_cpu_s()
        for _ in range(REQUESTS_PER_PASS):
            if not kinds:
                kinds = rng.sample(REQUESTS, len(REQUESTS))
            kind = kinds.pop()
            t0 = time.perf_counter()
            try:
                with ctx.span("serve.request", kind=kind):
                    views, params, rows = _serve_one(spark, kind, rng, out_dir, committed)
            except Exception as e:  # noqa: BLE001 — a failed request counts as failed
                served.append((kind, time.perf_counter() - t0, None, None, str(e)[:600]))
                continue
            dt = time.perf_counter() - t0
            cursor = views["follower_info"].collect()[0]["height"]
            served.append((kind, dt, params, cursor, rows))
        serve_cpu = tree_cpu_s() - cpu0
        time.sleep(max(0.0, t_poll - time.perf_counter()))
        now = time.perf_counter()
        late.append(now - t_poll)
        cpu0 = tree_cpu_s()
        due = min(last_due, landed + int((now - t_start) * RATE))
        n = IncrementalFollower(spark, blocks.where(F.col("height") <= due), txns, cfg).run_once()
        t_commit = time.perf_counter()
        pass_cpu.append(serve_cpu + tree_cpu_s() - cpu0)
        ticks.append((now, t_commit, n))
        lag += [t_commit - due_time(h) for h in range(committed + 1, committed + n + 1)]
        committed += n
    t_end = time.perf_counter()
    ctx.stop_measuring()

    etl_problems = _check_landed(con, src, out_dir, landed + 1, committed)
    problems = list(etl_problems)
    n_bad = 0
    for kind, _, params, cursor, rows in served:
        if params is None:
            n_bad += 1
            problems.append(rows)
            continue
        want = _serve_expected(con, out_dir, kind, params, cursor)
        got = sorted(rows) if kind == "txns_by_type" else rows
        if got != want:
            n_bad += 1
            problems.append(f"{kind} {params} at cursor {cursor}: got {got[:2]} want {want[:2]}")
    # a wrong landed state cannot be pinned on one tick: all of them fail
    n_ticks = max(1, len(ticks))
    # blocks due by the end of the last tick that it did not commit
    backlog_end = int((t_end - t_start) * RATE) - (committed - landed)
    ok = [(kind, dt) for kind, dt, params, _, _ in served if params is not None]
    out.attempted = len(served) + n_ticks
    out.failed = n_bad + (n_ticks if etl_problems else 0)
    out.pass_cpu_s = pass_cpu
    out.throughput_per_s = mix_throughput(ok)
    out.latency = summarize(lag)
    out.units = n_ticks
    s = summarize([dt for _, dt in ok]) if ok else {"p50": 0.0, "tail": 0.0}
    out.extra = {
        "serve.request_s_p50": s["p50"],
        "serve.request_s_tail": s["tail"],
        "gen.late_s_max": max(late),
        "gen.backlog_blocks_end": float(backlog_end),
    }
    out.detail = {
        "rate_blocks_per_s": RATE, "landed": landed, "committed": committed,
        "backlog_blocks_end": backlog_end,
        "ticks": [(round(a - t_start, 3), round(b - t_start, 3), n) for a, b, n in ticks], "serve": s,
        "requests_s": {k: [round(dt, 3) for kind, dt in ok if kind == k] for k in REQUESTS},
        "problems": problems[:5],
    }
    return out


# -------------------------------------------------------------- query_suite


# a quarter of the sf0.01-sized tables (15k lineitem rows): fixed per-query
# cost dominates at either size, and three passes fit in a 15 s window
TABLE_SCALE = 0.25
MIN_PASSES = 3  # so that every query's median rests on three samples


def query_suite(ctx: Ctx) -> Outcome:
    import bench
    from helium_etl_lite_spark import registry
    from tools.check_oracle import compare, duck_connection

    from . import analytics_data

    spark = ctx.spark
    names = list(bench.HEADLINE)
    rng = random.Random(ctx.seed)
    data = os.path.join(ctx.work, "tables")
    expected_rows: dict[str, int] = {}
    problems: dict[str, list[str]] = {}

    def prepare():
        """The tables, then one warm-up pass, which collects every result
        and checks it against the DuckDB oracles (text_dedup_minhash has no
        oracle: one keeper row per document)."""
        t0 = time.perf_counter()
        n_rows = analytics_data.write_tables(data, ctx.seed, TABLE_SCALE * ctx.scale)
        gen_s = time.perf_counter() - t0
        registry.load_all()
        check_s, con = 0.0, duck_connection(data)
        for q in rng.sample(names, len(names)):
            pdf = registry.QUERIES[q](spark, data).toPandas()
            t0 = time.perf_counter()
            if q in registry.ORACLES:
                want = con.execute(registry.ORACLES[q]).df()
                problems[q] = compare(q, pdf, want)
                expected_rows[q] = len(want)
            else:
                expected_rows[q] = n_rows["documents"]
                problems[q] = [] if len(pdf) == expected_rows[q] else [f"rows {len(pdf)}"]
            check_s += time.perf_counter() - t0
        return None, gen_s + check_s, {"tables_s": gen_s, "check_s": check_s}

    ctx.set_up(prepare)

    out = Outcome()
    ctx.start_measuring()
    passes, per_query = [], {q: [] for q in names}
    # passes start while the window is open, and at least MIN_PASSES run;
    # the last one may end after the window
    while len(passes) < MIN_PASSES or ctx.elapsed() < ctx.seconds:
        t_pass, cpu0 = time.perf_counter(), tree_cpu_s()
        for q in rng.sample(names, len(names)):
            t0 = time.perf_counter()
            with ctx.span("query", query=q):
                with ctx.span("plan.build"):
                    df = registry.QUERIES[q](spark, data)
                with ctx.span("exec.action"):
                    n = ctx.trace.count(df) if ctx.trace is not None else df.count()
            per_query[q].append(time.perf_counter() - t0)
            if n != expected_rows[q]:
                problems[q].append(f"count() gave {n}, expected {expected_rows[q]}")
        passes.append(time.perf_counter() - t_pass)
        out.pass_cpu_s.append(tree_cpu_s() - cpu0)
    ctx.stop_measuring()

    bad = [q for q in names if problems[q]]
    medians = [statistics.median(per_query[q]) for q in names]
    out.attempted = len(passes) * len(names)
    out.failed = len(passes) * len(bad)
    out.throughput_per_s = mix_throughput([(q, t) for q in names for t in per_query[q]])
    # per-query medians, so neither a burst of host load nor the gap between
    # fast and slow queries moves the figures: the median query and the slowest
    out.latency = {"p50": statistics.median(medians), "tail": max(medians), "tail_pct": 100.0,
                   "n": len(passes) * len(names)}
    out.units = len(passes)
    out.extra = {f"query.{q}_s": statistics.median(per_query[q]) for q in names}
    out.extra["query.pass_s"] = statistics.median(passes)
    out.detail = {
        "passes_s": [round(p, 3) for p in passes],
        "problems": {q: problems[q][:3] for q in bad},
    }
    return out


WORKLOADS = {
    "backfill_dense": backfill_dense,
    "tail_serve": tail_serve,
    "query_suite": query_suite,
}
