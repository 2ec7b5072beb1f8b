"""Session-level engine settings: the codegen cache holds the headline
working set, and a foreign session with a smaller cache is reported."""

from __future__ import annotations

import logging
from types import SimpleNamespace

from helium_etl_lite_spark import session


def test_headline_repeat_compiles_no_codegen_class(spark, sf_dir):
    """A second count() pass of the 12 headline queries finds every
    whole-stage class in the codegen cache: no Janino compile."""
    import bench
    from helium_etl_lite_spark import registry

    registry.load_all()
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def count_pass():
        for name in bench.HEADLINE:
            registry.QUERIES[name](spark, sf_dir).count()

    count_pass()
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    count_pass()
    assert metrics.METRIC_COMPILATION_TIME().getCount() - before == 0


def _foreign(monkeypatch, entries):
    """A session stand-in whose conf reader returns `entries` for the
    codegen cache size (None: unset)."""
    monkeypatch.setattr(session, "_small_cache_warned", False)
    conf = {session.CODEGEN_CACHE_MAX_ENTRIES: entries}
    return SimpleNamespace(conf=SimpleNamespace(
        set=lambda key, value: None, get=lambda key, default=None: conf.get(key, default),
    ))


def test_foreign_session_with_small_codegen_cache_warns_once(monkeypatch, caplog):
    spark = _foreign(monkeypatch, "100")
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session.ensure_session_conf(spark)
        session.ensure_session_conf(spark)
    warnings = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warnings) == 1
    assert session.CODEGEN_CACHE_MAX_ENTRIES in warnings[0].getMessage()


def test_unset_codegen_cache_counts_as_spark_default(monkeypatch, caplog):
    spark = _foreign(monkeypatch, None)
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session.ensure_session_conf(spark)
    assert len(caplog.records) == 1


def test_session_with_engine_codegen_cache_is_quiet(monkeypatch, caplog):
    spark = _foreign(monkeypatch, str(session.CODEGEN_CACHE_ENTRIES))
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session.ensure_session_conf(spark)
    assert caplog.records == []
