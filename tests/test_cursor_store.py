"""CursorStore.read across write()'s two-rename cursor swap.

write() renames current -> .old, promotes .tmp -> current, then deletes
.old. These tests replay reader/writer interleavings deterministically
by substituting CursorStore._read_dir; the round trip reads and writes
real files. The store uses pyarrow, so no test here needs Spark.
"""

from __future__ import annotations

from helium_etl_lite_spark.etl.pipeline import CursorStore


def _store(script):
    """A CursorStore whose directory reads replay `script`: one
    (expected_path_suffix, result) pair per call, in order."""
    store = CursorStore(path="/cursor/follower_info")
    calls = []

    def fake_read_dir(path):
        suffix, result = script[len(calls)]
        assert path == store.path + suffix
        calls.append(path)
        return result

    store._read_dir = fake_read_dir
    return store, calls


def test_current_hit_reads_once():
    store, calls = _store([("", (120, 100))])
    assert store.read() == (120, 100)
    assert len(calls) == 1


def test_rename_window_falls_back_to_old():
    # reader lands between current -> .old and .tmp -> current
    store, calls = _store([("", None), (".old", (120, 100))])
    assert store.read() == (120, 100)
    assert len(calls) == 2


def test_swap_completed_between_reads_rereads_current():
    # reader misses current (mid-swap), then the writer promotes .tmp
    # and deletes .old before the reader looks there: the new cursor is
    # in current, and read() must not report "no cursor"
    store, calls = _store([("", None), (".old", None), ("", (140, 100))])
    assert store.read() == (140, 100)
    assert len(calls) == 3


def test_no_cursor_is_none():
    store, _ = _store([("", None), (".old", None), ("", None)])
    assert store.read() is None


def test_write_then_read_round_trip(tmp_path):
    store = CursorStore(str(tmp_path / "follower_info"))
    assert store.read() is None
    store.write(120, 100)
    store.write(140, 100)
    assert store.read() == (140, 100)
    assert not (tmp_path / "follower_info.old").exists()
