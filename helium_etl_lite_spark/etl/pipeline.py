"""Batch-incremental follower: the reference's poll/catch-up/commit loop
(SURVEY §2.1 E16-E20) on Spark.

Differences by design (Spark-first, not a translation):
- The reference processes ONE block per transaction
  (src/follower.rs:99-112). Here a catch-up pass processes the whole
  (cursor, tip] range as ONE distributed job — partition pruning on the
  height predicate keeps it incremental, executors give parallelism.
- Exactly-once: Postgres gives the reference a data+cursor transaction
  (src/follower.rs:100, src/block_processor.rs:44-47). Here every
  caller (batch follower, RPC catch-up, streaming twin, CLI, serving)
  lands and reads a batch through ONE interface, `FollowerSink`, that
  `open_sink` picks once. Two sinks implement it:
  - `PlainSink` (below): plain parquet. Data writes are keyed/deduped
    (rewards partitioned by block range, overwritten per-range;
    transactions deduped on hash, PK analog of migrations/V3:43), and
    the cursor is committed only AFTER data lands. A crash between
    data and cursor replays the range — idempotent, so the result
    converges.
  - `SnapshotSink` (etl/snapshot.py, `atomic = true`): data and cursor
    publish in one manifest rename, the reference's BEGIN..COMMIT made
    literal.
"""

from __future__ import annotations

import logging
import os
import shutil
from dataclasses import dataclass
from typing import Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..errors import is_path_not_found
from .schemas import REWARDS_V2_FIELDS_SCHEMA, SENTINEL
from .transforms import build_outputs

# Output tables are partitioned by block: dynamic partition overwrite
# then gives per-block replace semantics — the exact analog of the
# reference's per-block BEGIN..COMMIT atomicity (any replayed range
# replaces precisely the blocks it contains, never duplicating and
# never clobbering neighbors). At 100 TB with small blocks, coarsen to
# block ranges ONLY if batch boundaries are aligned to range boundaries
# (the replay unit must cover whole partitions), or use a Delta/Iceberg
# MERGE keyed on (block, hash) instead.


def write_block_range_idempotent(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    lo: int,
    hi: int,
    range_size: int = 1000,
    heights: DataFrame | None = None,
) -> None:
    """Idempotently land a batch's block slice into a table partitioned
    by coarse `block_range` (block // range_size).

    Per-BLOCK partitioning would mean one directory per block — millions
    of tiny partitions at chain scale, a filesystem-metadata bottleneck
    (observed 20× slowdown in tools/bench_etl.py). Coarse ranges keep
    partition count bounded; idempotence across partial-range replays is
    preserved by read-merge-write: carried-over rows of the touched
    ranges are kept, rows the batch claims are replaced wholesale.
    Replaying any slice therefore converges to the same table (the
    reference's per-block BEGIN..COMMIT, src/follower.rs:100, at range
    granularity). Multi-partition overwrite is not atomic on plain
    parquet — a transactional table format (Delta/Iceberg) upgrades that
    without changing this dataflow; until then PlainSink.read below
    gives readers the cursor-bounded consistent view.

    What counts as "claimed" matters for correctness:
    - heights=None: the batch claims the contiguous span [lo, hi] — old
      rows inside the span are dropped. ONLY valid when the batch really
      contains every block of the span (the batch follower's
      `where(height between lo, hi)` does).
    - heights=<DataFrame of block heights>: the batch claims exactly
      that height SET — old rows are anti-joined against it. Required
      for micro-batches with no contiguity guarantee (a file-stream
      batch holding heights {100, 300} must not delete blocks 101-299
      that a previous batch landed).
    """
    new = df.withColumn(
        "block_range", F.floor(F.col("block") / F.lit(range_size)).cast("long")
    )
    try:
        old_all = spark.read.parquet(path).withColumn(
            "block_range", F.col("block_range").cast("long")
        )
        if heights is None:
            r_lo, r_hi = lo // range_size, hi // range_size
            old = old_all.where(
                F.col("block_range").between(r_lo, r_hi)
                & ~F.col("block").between(lo, hi)
            )
        else:
            claimed = heights.select(
                F.col(heights.columns[0]).cast("long").alias("__claimed_block")
            ).distinct()
            touched = claimed.select(
                F.floor(F.col("__claimed_block") / F.lit(range_size))
                .cast("long")
                .alias("block_range")
            ).distinct()
            old = old_all.join(F.broadcast(touched), "block_range", "left_semi").join(
                F.broadcast(claimed),
                F.col("block") == F.col("__claimed_block"),
                "left_anti",
            )
        old = (
            old.select(*new.columns)
            # materialize before the overwrite below deletes the files
            # this plan reads (write-into-own-source); the carried sliver
            # is bounded by the touched ranges' non-replaced rows.
            .localCheckpoint(eager=True)
        )
        # Two actions consume merged (the overwrite and the stale-range
        # probe below) — persist so the batch transform runs once.
        merged = new.unionByName(old).persist()
        # Dynamic overwrite only rewrites partitions PRESENT in merged.
        # A touched range where the claimed blocks now produce no rows
        # and no carried-over rows remain would keep its stale files
        # forever (ADVICE r2) — enumerate the touched ranges and delete
        # any that merged no longer populates. Control-plane sized: the
        # distinct() below column-prunes to block_range only, and the
        # touched set is bounded by the batch's span / range_size.
        if heights is None:
            touched_ranges = set(range(lo // range_size, hi // range_size + 1))
        else:
            touched_ranges = {r["block_range"] for r in touched.collect()}
        present_ranges = {
            r["block_range"] for r in merged.select("block_range").distinct().collect()
        }
        stale_ranges = sorted(touched_ranges - present_ranges)
    except AnalysisException:
        merged = new  # first write; nothing to merge, nothing stale
        stale_ranges = []
    try:
        (
            merged.repartition("block_range")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("block_range")
            .parquet(path)
        )
    finally:
        merged.unpersist()
    # After the write so a crash replay re-derives and re-deletes them
    # (idempotent). Hadoop FS API, so the same path works on HDFS/object
    # stores, not just local files.
    for rng in stale_ranges:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(f"{path}/block_range={rng}")
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(hpath, True)


class CursorStore:
    """follower_info analog (reference migrations/V2, src/follower.rs:115-142):
    single-row (height, first_block) table, persisted as one parquet
    file that pyarrow reads and writes (no Spark job, no SparkSession).

    Crash-safe on a local/POSIX filesystem: `overwrite` alone deletes
    the directory before rewriting it, so a crash mid-write loses the
    cursor entirely (and a backfill=False restart would silently re-seed
    at tip, skipping every block in between). Instead the new cursor is
    written to a `.tmp` directory and published with two renames
    (current → `.old`, `.tmp` → current); at every instant at least one
    of current/.old holds a complete previous cursor, and read() falls
    back to `.old` for the microsecond rename window. A reader that
    misses both has raced a whole swap (.tmp promoted, .old deleted
    between its two reads), so it reads current once more rather than
    report no cursor. (On an object store, swap this for a
    conditional-put of a single manifest file.)
    """

    SCHEMA = pa.schema(
        [pa.field("height", pa.int64(), False), pa.field("first_block", pa.int64(), False)]
    )

    def __init__(self, path: str):
        self.path = path

    def _read_dir(self, path: str) -> tuple[int, int] | None:
        try:
            t = pq.read_table(path, schema=self.SCHEMA)
        except (OSError, ValueError):  # no such dir, or no complete file in it
            return None
        if not t.num_rows:
            return None
        return t["height"][0].as_py(), t["first_block"][0].as_py()

    def read(self) -> tuple[int, int] | None:
        for path in (self.path, self.path + ".old", self.path):
            got = self._read_dir(path)
            if got is not None:
                return got
        return None

    def write(self, height: int, first_block: int) -> None:
        tmp, old = self.path + ".tmp", self.path + ".old"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        row = pa.table({"height": [height], "first_block": [first_block]}, schema=self.SCHEMA)
        pq.write_table(row, os.path.join(tmp, "part-00000.parquet"))
        shutil.rmtree(old, ignore_errors=True)
        if os.path.isdir(self.path):
            os.rename(self.path, old)
        os.rename(tmp, self.path)
        shutil.rmtree(old, ignore_errors=True)


class FollowerSink:
    """Where follower batches land and are read back: the one interface
    the batch follower, the RPC catch-up, the streaming twin, the CLI
    and serving go through, so none of them branches on the sink kind.
    A sink owns four things:

    - the committed state, read ONCE per use (`committed`): a dict
      holding the cursor `height` and `first_block` (the snapshot
      sink's is its whole manifest);
    - the cursor seed at `first - 1` (`init_cursor`);
    - one batch commit (`commit`): every table plus the cursor,
      claiming the span [lo, hi], or exactly the height set `heights`
      when given (see write_block_range_idempotent);
    - the committed read of a table at a state (`read`).

    Plus what the CLI's CDC and maintenance verbs need (`changes`,
    `partitions`, `compact`). `open_sink` picks the implementation."""

    name = ""

    def committed(self, version: int | None = None) -> dict | None:
        """The committed state (None before the first seed); `version`
        time-travels a sink that keeps history."""
        raise NotImplementedError

    def commit(self, tables, lo, hi, height, first_block, heights=None) -> None:
        """Land `tables` (name -> DataFrame) and move the cursor to
        (height, first_block)."""
        raise NotImplementedError

    def read(self, table: str, state: dict | None, committed: bool = True) -> DataFrame:
        """`table` as of `state`; committed=False also shows data landed
        past the cursor, where the sink has any."""
        raise NotImplementedError

    def changes(self, state: dict | None, since: int, key_cols: list[str] | None) -> dict[str, DataFrame]:
        """`<table>_changes` CDC views from version `since` to `state`."""
        raise NotImplementedError

    def partitions(self, state: dict) -> dict[str, list[str]]:
        """Per table, the partition directories `state` reads."""
        raise NotImplementedError

    def compact(self, target_file_bytes: int) -> dict:
        """Merge small files; returns what was rewritten ({} if nothing)."""
        raise NotImplementedError

    def _seed(self, height: int, first_block: int) -> None:
        """Commit the first cursor, before any data."""
        raise NotImplementedError

    def _recover(self) -> tuple[int, int] | None:
        """A cursor re-derived from landed data, for a lost one."""
        return None

    def cursor(self) -> tuple[int, int] | None:
        state = self.committed()
        return None if state is None else (state["height"], state["first_block"])

    def init_cursor(self, first_of: Callable[[], int]) -> tuple[int, int]:
        """The committed cursor; without one, a cursor recovered from
        landed data, else a seed at first_of() - 1 — committed before
        it is returned (reference src/follower.rs:27-41)."""
        cur = self.cursor()
        if cur is not None:
            return cur
        cur = self._recover()
        if cur is None:
            first = first_of()
            # cursor starts at first-1 so the first processed block is
            # `first` (reference src/follower.rs:37).
            cur = (first - 1, first)
        self._seed(*cur)
        return cur


class PlainSink(FollowerSink):
    """Plain parquet: `{table}/block_range=R/` landed by
    write_block_range_idempotent, then the cursor in
    `_meta/follower_info` (CursorStore). The cursor is written after
    the data, so readers cut every table at it (`read`) and a crash in
    between replays an idempotent range. Runs the ingest audit."""

    name = "plain"

    def __init__(self, spark: SparkSession | None, out_dir: str, range_size: int = 1000):
        self.spark = spark
        self.out_dir = out_dir
        self.range_size = range_size
        self.store = CursorStore(os.path.join(out_dir, "_meta", "follower_info"))

    def committed(self, version: int | None = None) -> dict | None:
        if version is not None:
            raise ValueError(
                f"--at-version requires an atomic sink (no snapshot store "
                f"at {self.out_dir}; plain sinks keep no history)"
            )
        cur = self.store.read()
        return None if cur is None else {"height": cur[0], "first_block": cur[1]}

    def _seed(self, height: int, first_block: int) -> None:
        self.store.write(height, first_block)

    def _recover(self) -> tuple[int, int] | None:
        # Cursor lost but data landed (e.g. the pre-atomic-write store
        # died mid-overwrite): re-derive the position from the output
        # table instead of re-seeding at tip, which would silently skip
        # every block between the lost cursor and the tip. Re-deriving
        # can only UNDER-estimate (filters mode drops rewardless
        # blocks), and replay of those blocks is idempotent.
        try:
            row = (
                self.spark.read.parquet(os.path.join(self.out_dir, "rewards"))
                .agg(F.max("block").alias("mx"), F.min("block").alias("mn"))
                .collect()[0]
            )
        except Exception:
            return None
        if row["mx"] is None:
            return None
        return int(row["mx"]), int(row["mn"])

    def commit(self, tables, lo, hi, height, first_block, heights=None) -> None:
        for table, df in tables.items():
            write_block_range_idempotent(
                self.spark, df, os.path.join(self.out_dir, table), lo, hi,
                self.range_size, heights=heights,
            )
            # A height-set claim's [lo, hi] can hold blocks other batches
            # landed, so only a span claim audits its range.
            if table == "rewards" and heights is None:
                self._audit(lo, hi)
        # cursor advances only after data is durable (E18; the ordering
        # that substitutes for the reference's BEGIN..COMMIT).
        self.store.write(height, first_block)

    def _audit(self, lo: int, hi: int) -> None:
        # Ingest audit: row/amount/sentinel counters for the landed
        # range (the reference has no ingest metrics at all; production
        # followers need them to spot a silently-empty or all-null
        # upstream). Computed from the JUST-WRITTEN parquet slice — one
        # cheap columnar scan with the block predicate pushed — instead
        # of re-running the whole batch build a second time (an agg on
        # the batch's rewards would re-execute explode/validate/join per
        # range, ~2x ingest cost). NOT the Observation API: the recovery
        # paths here deliberately run failing probe reads, and a pending
        # Observation's listener asserts on ANY failed query in the
        # session, taking the whole batch down with it.
        try:
            landed = (
                self.spark.read.parquet(os.path.join(self.out_dir, "rewards"))
                .where(F.col("block").between(lo, hi))
            )
            audit = landed.agg(
                F.count(F.lit(1)).alias("n_rewards"),
                F.coalesce(F.sum("amount"), F.lit(0)).alias("amount_total"),
                F.coalesce(
                    F.sum(F.when(F.col("account") == SENTINEL, 1).otherwise(0)),
                    F.lit(0),
                ).alias("sentinel_accounts"),
            ).first()
            self.last_audit = audit.asDict()
        except AnalysisException as e:
            # ONLY the missing-path case is a legitimate zero: a batch
            # with zero reward rows writes no directory at all on the
            # very first range — that IS the signal the audit exists to
            # surface, as an explicit zero. Any other failure (corrupt
            # footer, permission error, transient IO) must surface as
            # an audit FAILURE, not be masked as zeros (r6 ADVICE).
            if is_path_not_found(e):
                self.last_audit = {
                    "n_rewards": 0, "amount_total": 0, "sentinel_accounts": 0,
                }
            else:
                self.last_audit = {"error": str(e)}
        except Exception as e:  # noqa: BLE001 — audit is advisory; ingest continues
            self.last_audit = {"error": str(e)}
        logging.getLogger("helium_etl_lite_spark").log(
            logging.WARNING if "error" in self.last_audit else logging.INFO,
            f"audit [{lo},{hi}]: {self.last_audit}",
        )

    def read(self, table: str, state: dict | None, committed: bool = True) -> DataFrame:
        # Data lands BEFORE the cursor advances, so between the two
        # writes a raw reader could observe blocks beyond the cursor
        # (the reference's Postgres transaction hides that window).
        # Cutting at the cursor restores the reference's visibility
        # rule, and the predicate prunes `block_range` partitions, so it
        # costs a metadata lookup, not a scan.
        df = self.spark.read.parquet(os.path.join(self.out_dir, table))
        if not committed:
            return df
        if state is None:
            return df.where(F.lit(False))
        height = state["height"]
        return df.where(F.col("block_range") <= height // self.range_size).where(
            F.col("block") <= height
        )

    def changes(self, state, since, key_cols) -> dict[str, DataFrame]:
        raise ValueError(
            f"--changes-since requires an atomic sink (no snapshot store "
            f"at {self.out_dir}; plain sinks keep no history)"
        )

    def partitions(self, state: dict) -> dict[str, list[str]]:
        out = {}
        for table in ("rewards", "transactions"):
            tdir = os.path.join(self.out_dir, table)
            if os.path.isdir(tdir):
                out[table] = [
                    os.path.join(tdir, d) for d in os.listdir(tdir) if d.startswith("block_range=")
                ]
        return out

    def compact(self, target_file_bytes: int) -> dict:
        # per-partition in-place rewrite of the plain layout
        from .compact import compact_partitioned_table

        results: dict[str, dict] = {}
        for table in self.partitions({}):  # the tables on disk
            got = compact_partitioned_table(
                self.spark, os.path.join(self.out_dir, table), target_file_bytes=target_file_bytes
            )
            if got:
                results[table] = got
        return results


def open_sink(
    spark: SparkSession | None,
    out_dir: str,
    atomic: bool | None = None,
    range_size: int = 1000,
) -> FollowerSink:
    """The one place that picks a sink. Writers pass `atomic`
    (FollowerConfig.atomic); readers pass None and get the layout found
    on disk (plain while there is none). A configured sink that
    disagrees with the layout on disk raises ValueError: the snapshot
    sink would seed a fresh cursor over plain files and hide them, and
    the plain sink would read every `v=` directory of a snapshot store."""
    from .snapshot import SnapshotSink  # snapshot.py builds on this module

    found = set()
    if os.path.isdir(os.path.join(out_dir, "_snapshots")):
        found.add("atomic")
    rewards = os.path.join(out_dir, "rewards")
    if os.path.isdir(os.path.join(out_dir, "_meta")) or (
        os.path.isdir(rewards) and any(d.startswith("block_range=") for d in os.listdir(rewards))
    ):
        found.add("plain")
    name = None if atomic is None else ("atomic" if atomic else "plain")
    configured = found if name is None else {name}
    if len(found | configured) > 1:
        raise ValueError(
            f"sink mismatch at {out_dir}: configured {name or 'no'} sink, "
            f"found {' and '.join(sorted(found))} sink on disk"
        )
    return (SnapshotSink if "atomic" in configured else PlainSink)(spark, out_dir, range_size)


def sink_tables(out: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """build_outputs' tables as a sink commits them: transactions
    deduplicated on hash within the batch (PK(hash) idempotence,
    migrations/V3:43) before the idempotent range write."""
    tables = {"rewards": out["rewards"]}
    if "transactions" in out:
        tables["transactions"] = out["transactions"].dropDuplicates(["hash"])
    return tables


@dataclass
class FollowerConfig:
    """settings.toml analog (reference src/settings.rs:33-48)."""

    mode: str = "rewards"          # rewards | full | filters
    backfill: bool = False
    out_dir: str = "/tmp/helium_out"
    max_blocks_per_batch: int | None = None  # None = whole lag in one job
    block_range_size: int = 1000   # blocks per output partition directory
    # The sink selector, read once by open_sink: True = SnapshotSink
    # (etl/snapshot.py), data + cursor publish in ONE atomic rename, the
    # reference's BEGIN..COMMIT (src/follower.rs:100) made literal;
    # False = PlainSink, write-ordering + idempotent replay.
    atomic: bool = False


class IncrementalFollower:
    """E17-E19: cursor init, catch-up loop, cursor advance."""

    def __init__(
        self,
        spark: SparkSession,
        blocks: DataFrame,
        txns: DataFrame,
        config: FollowerConfig,
        filters: DataFrame | None = None,
    ):
        from .transforms import MODES

        if config.mode not in MODES:
            raise ValueError(f"unknown mode {config.mode!r}; expected one of {MODES}")
        if config.mode == "filters" and filters is None:
            raise ValueError("filters mode requires the filters table")
        self.spark = spark
        self.blocks = blocks
        self.txns = txns
        self.config = config
        self.filters = filters
        self.sink = open_sink(spark, config.out_dir, config.atomic, config.block_range_size)

    @property
    def last_audit(self) -> dict:
        """The plain sink's ingest audit of the last landed range."""
        return self.sink.last_audit

    # -- cursor init (reference src/follower.rs:27-41) ------------------
    def init_cursor(self) -> tuple[int, int]:
        return self.sink.init_cursor(
            lambda: get_first_block(self.spark, self.blocks, self.txns)
            if self.config.backfill
            else self._tip()
        )

    def _tip(self) -> int:
        # E1: chain-tip probe (reference src/follower.rs:76).
        return self.blocks.agg(F.max("height")).collect()[0][0]

    # -- one catch-up pass (reference src/follower.rs:69-98) ------------
    def run_once(self) -> int:
        """Process (cursor, tip] and return the number of blocks loaded."""
        height, first_block = self.init_cursor()
        tip = self._tip()
        if tip is None or tip <= height:
            return 0
        upper = tip
        if self.config.max_blocks_per_batch is not None:
            upper = min(tip, height + self.config.max_blocks_per_batch)
        # Incremental slice: the height predicate prunes partitions at
        # the source (src/follower.rs:86's `h > self.height`, vectorized).
        blocks = self.blocks.where(F.col("height").between(height + 1, upper))
        out = build_outputs(self.config.mode, blocks, self.txns, self.filters)
        self.sink.commit(sink_tables(out), height + 1, upper, upper, first_block)
        return upper - height

    def catch_up(self) -> int:
        """Loop run_once until at tip (bounded-replay E19)."""
        total = 0
        while True:
            n = self.run_once()
            if n == 0:
                return total
            total += n


def rpc_catch_up(
    spark: SparkSession,
    client,
    config: FollowerConfig,
    filters: DataFrame | None = None,
    max_fetch_per_pass: int = 500,
) -> int:
    """Catch up against a live JSON-RPC node (the reference's main loop,
    src/follower.rs:69-98): probe the tip, fetch the lagging range via
    RpcBlockSource, and run the same follower over it. Returns blocks
    loaded. The per-pass fetch bound keeps driver memory flat while
    catching up from far behind."""
    from ..sources.block_source import RpcBlockSource

    sink = open_sink(spark, config.out_dir, config.atomic, config.block_range_size)
    height, _first = sink.init_cursor(
        lambda: rpc_get_first_block(client) if config.backfill else client.height()
    )
    total = 0
    tip = client.height()
    while tip > height:
        bound = config.max_blocks_per_batch or max_fetch_per_pass
        hi = min(tip, height + bound)
        src = RpcBlockSource(spark, client, height + 1, hi)
        follower = IncrementalFollower(spark, src.blocks(), src.txns(), config, filters=filters)
        n = follower.run_once()
        if n == 0:
            break
        total += n
        height += n
        tip = client.height()  # the chain may have advanced meanwhile
    return total


def rpc_get_first_block(client, max_hops: int = 100_000) -> int:
    """E20 against a live node: the literal backward epoch walk
    (reference src/follower.rs:144-194) — hop rewards_v2.start_epoch
    pointers from the tip; on a fetch failure outside the last epoch,
    re-enter at last_safe-1 and walk block-by-block; on a failure inside
    it, the last safe height is the oldest block the node holds."""
    height = client.height()
    last_safe = height
    in_last_epoch = False
    for _ in range(max_hops):
        try:
            block = client.get_block_raw(height)
        except Exception:
            if in_last_epoch:
                return last_safe  # src/follower.rs:159
            in_last_epoch = True  # src/follower.rs:160-167
            height = last_safe - 1
            if height < 1:
                return last_safe
            continue
        hop = None
        if not in_last_epoch:
            for t in block["transactions"]:
                if t["type"] == "rewards_v2":
                    payload = client.get_transaction(t["hash"])
                    epoch = payload.get("start_epoch")
                    if epoch is not None:
                        hop = epoch if hop is None else min(hop, epoch)
        last_safe = height
        height = hop if hop is not None else height - 1  # src/follower.rs:176,189-190
        if height < 1:
            return last_safe
    return last_safe


def get_first_block(spark: SparkSession, blocks: DataFrame, txns: DataFrame) -> int:
    """E20: backfill boundary discovery (reference src/follower.rs:144-194).

    The reference walks backward block-by-block, hopping whole epochs via
    rewards_v2.start_epoch pointers, because its source only supports
    point lookups. Our source supports aggregation, so the common case is
    one metadata-only query: min(height). The epoch-hop remains available
    as a driver-side loop for sources where old blocks fail to fetch
    (reference :158-167); it issues tiny point queries, exactly like the
    reference, and falls back to the last safe height on a gap.
    """
    row = blocks.agg(F.min("height").alias("mn")).collect()[0]
    return int(row["mn"])


def backfill_epoch_walk(blocks: DataFrame, txns: DataFrame, tip: int, max_hops: int = 1000) -> int:
    """The literal epoch-hop walk (reference src/follower.rs:144-194),
    for parity testing: from `tip`, follow rewards_v2.start_epoch
    pointers backward until a block is missing; return the oldest
    reachable height."""
    payload = txns.select(
        "hash", F.from_json("fields", REWARDS_V2_FIELDS_SCHEMA).alias("f")
    ).select("hash", F.col("f.start_epoch").alias("start_epoch"))
    height = tip
    last_safe = tip
    for _ in range(max_hops):
        blk = blocks.where(F.col("height") == height).select("height", "transactions").collect()
        if not blk:
            # fetch failure → step back one from last safe height
            # (reference :158-167), then give up at the gap.
            return last_safe
        last_safe = height
        rv2_hashes = [t["hash"] for t in blk[0]["transactions"] if t["type"] == "rewards_v2"]
        hop = None
        if rv2_hashes:
            rows = payload.where(F.col("hash").isin(rv2_hashes)).select("start_epoch").collect()
            epochs = [r["start_epoch"] for r in rows if r["start_epoch"] is not None]
            if epochs:
                hop = min(epochs)
        height = hop if hop is not None else height - 1
        if height < 1:
            return last_safe
    return last_safe
