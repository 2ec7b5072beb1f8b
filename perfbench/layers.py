"""Per-layer metrics of a traced run.

`Trace` owns the span recorder, the wrappers around the package's entry
points and the status-store reader. Every per-layer metric is reported
for every workload (0 where the layer does no work there) and is a total
over the measured period divided by the workload's units: catch-ups for
backfill_dense, follower ticks for tail_serve, passes for query_suite.
`serve.*` metrics are per serving request instead.
"""

from __future__ import annotations

import statistics

from .spans import Recorder, Tracer, covered, self_times
from .sparkstats import SparkStats

SERVE_KINDS = {
    "range_sum": "serve.range_sum_s",
    "gateway_topk": "serve.gateway_topk_s",
    "txn_by_hash": "serve.txn_by_hash_s",
    "txns_by_type": "serve.txns_by_type_s",
}
# spans whose wall time is one user-visible action (for exec.idle_s)
ACTION_SPANS = {"exec.action", "serve.request", "etl.run_once"}


class Trace:
    def __init__(self, spark):
        self.spark = spark
        self.rec = Recorder(spark.sparkContext)
        self.tracer = Tracer(self.rec)
        self.stats = SparkStats(spark)
        self.active = False

    def start(self) -> None:
        self.tracer.install()
        self.active = True

    def stop(self) -> None:
        self.tracer.uninstall()
        self.active = False

    def count(self, df) -> int:
        """`df.count()` through a DataFrame whose QueryExecution we hold,
        so the Catalyst phases of the executed plan can be read."""
        cdf = df.groupBy().count()
        n = cdf.collect()[0][0]
        stack = self.rec._stack()
        if stack:
            stack[-1].attrs["catalyst"] = self.stats.catalyst_ms(cdf)
        return n

    def metrics(self, outcome, names: list[str]) -> dict[str, float]:
        """Every metric in `names`: 0 where the layer does no work, and the
        workload's own values (`outcome.extra`) where it reports them."""
        spans = self.rec.spans
        by_id = {s.id: s for s in spans}
        selfs = self_times(spans)
        groups = self.stats.collect([s.group for s in spans])
        kids: dict[int, list] = {}
        for s in spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)

        def subtree(s):
            out, todo = [], [s]
            while todo:
                x = todo.pop()
                out.append(x)
                todo += kids.get(x.id, [])
            return out

        def under(s, name):
            while s.parent is not None:
                s = by_id[s.parent]
                if s.name == name:
                    return True
            return False

        def named(name, **attrs):
            return [s for s in spans if s.name == name and all(s.attrs.get(k) == v for k, v in attrs.items())]

        def jobs(ss, deep=True):
            seen = {x.id: x for s in ss for x in (subtree(s) if deep else [s])}
            return sum(groups[x.group].jobs for x in seen.values())

        def sql(ss, key):
            seen = {x.id: x for s in ss for x in subtree(s)}
            return sum(groups[x.group].sql.get(key, 0.0) for x in seen.values())

        units = max(1, outcome.units)
        m: dict[str, float] = dict.fromkeys(names, 0.0)
        opens = named("tables.open")
        m["tables.open_s"] = sum(s.duration for s in opens) / units
        m["tables.open_jobs"] = jobs(opens) / units
        builds = named("plan.build")
        m["plan.build_s"] = sum(selfs[s.id] for s in builds) / units
        m["plan.build_jobs"] = jobs(builds, deep=False) / units
        for s in spans:
            for phase, ms in s.attrs.get("catalyst", {}).items():
                key = f"catalyst.{phase}_ms"
                if key in m:
                    m[key] += ms / units

        stages = [st for s in spans for st in groups[s.group].stages]
        m["exec.jobs"] = sum(groups[s.group].jobs for s in spans) / units
        m["exec.stages"] = len(stages) / units
        for key in ("tasks", "run_ms", "cpu_ms", "gc_ms", "input_bytes",
                    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            m[f"exec.{key}"] = sum(getattr(st, key) for st in stages) / units
        m["exec.python_bytes"] = sum(groups[s.group].sql.get("python_bytes", 0.0) for s in spans) / units
        idle = 0.0
        for s in spans:
            if s.name in ACTION_SPANS and not any(under(s, a) for a in ACTION_SPANS):
                ivs = [st.interval for x in subtree(s) for st in groups[x.group].stages if st.interval]
                idle += s.duration - covered(ivs, s.start, s.end)
        m["exec.idle_s"] = idle / units

        m["etl.transform_build_s"] = sum(s.duration for s in named("etl.transform_build")) / units
        writes = named("etl.write")
        m["etl.write_rewards_s"] = sum(s.duration for s in named("etl.write", table="rewards")) / units
        m["etl.write_txns_s"] = sum(s.duration for s in named("etl.write", table="transactions")) / units
        m["etl.write_jobs"] = jobs(writes) / units
        m["etl.files_written"] = sql(writes, "files_written") / units
        m["etl.bytes_written"] = sql(writes, "bytes_written") / units
        claimed = 0
        for s in writes:
            col = 0 if s.attrs["table"] == "rewards" else 1
            claimed += sum(outcome.block_rows.get(h, (0, 0))[col] for h in range(s.attrs["lo"], s.attrs["hi"] + 1))
        m["etl.write_amplification"] = sql(writes, "rows_written") / claimed if claimed else 0.0
        ticks = named("etl.run_once")
        m["etl.init_cursor_s"] = sum(s.duration for s in named("etl.init_cursor")) / units
        m["etl.cursor_read_s"] = sum(s.duration for s in named("etl.cursor_read") if under(s, "etl.run_once")) / units
        m["etl.cursor_commit_s"] = sum(s.duration for s in named("etl.cursor_commit")) / units
        m["etl.follower_self_s"] = sum(selfs[s.id] for s in ticks) / units
        m["etl.jobs_per_tick"] = jobs(ticks) / len(ticks) if ticks else 0.0
        committed = [s.attrs.get("result", 0) for s in ticks if s.attrs.get("result")]
        m["etl.blocks_per_commit_p50"] = statistics.median(committed) if committed else 0.0

        requests = named("serve.request")
        if requests:
            n_req = len(requests)
            views = [s for s in named("serve.register_views") if under(s, "serve.request")]
            m["serve.register_views_s"] = sum(s.duration for s in views) / n_req
            for kind, key in SERVE_KINDS.items():
                mine = [s for s in requests if s.attrs.get("kind") == kind]
                if mine:  # the query and collect, without the views
                    m[key] = sum(selfs[s.id] for s in mine) / len(mine)
            m["serve.files_read"] = sql(requests, "files_read") / n_req
            m["serve.input_bytes"] = sum(
                st.input_bytes for s in requests for x in subtree(s) for st in groups[x.group].stages
            ) / n_req
        for key, value in outcome.extra.items():
            m[key] = float(value)
        return m
