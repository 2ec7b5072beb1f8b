"""Oracle-differential tests (SURVEY §5.1): every registered query runs
through Spark AND its DuckDB oracle at sf0.001; results must match on
row count, column names, pandas dtype CLASS (int widths normalized —
the driver hash-compares via pandas, so int-vs-float dtype drift is a
real FAIL even when values agree; see r2's three false-greens), and
values (floats within 1e-9).

This is a local replica of the driver's correctness gate so mismatches
surface before the driver runs at sf0.01.
"""

from __future__ import annotations

import pytest

from helium_etl_lite_spark import registry
from tools.check_oracle import compare, duck_connection

# The sweep is the FULL lane (see conftest lanes note) — it replays
# all 313 registered queries against DuckDB and dominates the suite's
# 40-60 min wall clock; opt in with SPARK_GRAFT_TEST_LANE=full (or
# -m sweep). The portable (oracle-exact) twins below run in the default
# lane too, so the shared pipelines they exercise with a second hash
# family or codebook kernel have a regular oracle witness.
DEFAULT_LANE = {
    "text_dedup_minhash_portable",
    "dedup_containment_screened_portable",
    "vec_kmeans_portable",
    "vec_ann_ivf_portable",
    "vec_ann_pq_portable",
    "vec_ann_ivfpq_portable",
    "pipeline_cluster_balanced_select",
    "vec_dedup_semantic_portable",
}

registry.load_all()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=() if n in DEFAULT_LANE else pytest.mark.sweep)
        for n in sorted(registry.QUERIES)
    ],
)
def test_query_matches_oracle(name, spark, sf_dir, duck):
    sdf = registry.QUERIES[name](spark, sf_dir)
    if name not in registry.ORACLES:
        # rows-only contract: must run and be a stable, non-erroring plan
        assert isinstance(sdf.collect(), list)
        return
    spark_pdf = sdf.toPandas()
    duck_pdf = duck.execute(registry.ORACLES[name]).df()
    problems = compare(name, spark_pdf, duck_pdf)
    assert not problems, f"{name}: {problems}"


def test_default_lane_names_are_registered_with_oracles():
    # a renamed registration must not silently drop out of the
    # default-lane oracle witness
    assert DEFAULT_LANE <= set(registry.ORACLES)
