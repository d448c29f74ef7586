"""The crash-safe directory-swap protocol (fsutil
swap_dir_into_place / recover_dir_swap): every
reachable interruption state converges, and the live directory is
never the only copy deleted."""

from __future__ import annotations

import os
import shutil

import pytest

from rusty_timeseries_db_spark.fsutil import (
    SWAP_NEW,
    SWAP_OLD,
    recover_dir_swap,
    swap_dir_into_place,
)


def _mk(path: str, tag: str) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "data.txt"), "w") as f:
        f.write(tag)


def _tag(path: str) -> str:
    with open(os.path.join(path, "data.txt")) as f:
        return f.read()


def test_happy_path_swap(spark, tmp_path):
    src = str(tmp_path / "d")
    _mk(src, "old")
    _mk(src + SWAP_NEW, "new")
    swap_dir_into_place(spark, src)
    assert _tag(src) == "new"
    assert not os.path.exists(src + SWAP_NEW)
    assert not os.path.exists(src + SWAP_OLD)


def test_swap_requires_rewrite(spark, tmp_path):
    src = str(tmp_path / "d")
    _mk(src, "old")
    with pytest.raises(IOError, match="not found"):
        swap_dir_into_place(spark, src)
    assert _tag(src) == "old"  # untouched


def test_recover_state_src_intact_stale_siblings(spark, tmp_path):
    """src exists → any __swap_new is a pre-swap rewrite that never
    landed, any __swap_old is a completed swap's leftover: both go."""
    src = str(tmp_path / "d")
    _mk(src, "live")
    _mk(src + SWAP_NEW, "stale-new")
    _mk(src + SWAP_OLD, "stale-old")
    recover_dir_swap(spark, src)
    assert _tag(src) == "live"
    assert not os.path.exists(src + SWAP_NEW)
    assert not os.path.exists(src + SWAP_OLD)


def test_recover_state_mid_swap(spark, tmp_path):
    """Crash between rename-aside and rename-in: src missing, complete
    rewrite at __swap_new, old copy at __swap_old → finish the swap."""
    src = str(tmp_path / "d")
    _mk(src + SWAP_NEW, "new")
    _mk(src + SWAP_OLD, "old")
    recover_dir_swap(spark, src)
    assert _tag(src) == "new"
    assert not os.path.exists(src + SWAP_NEW)
    assert not os.path.exists(src + SWAP_OLD)


def test_recover_state_only_old(spark, tmp_path):
    """Defensive restore: only the aside copy survives → it comes
    back as src (not reachable from the protocol, but an operator may
    have hand-deleted a half-swapped dir)."""
    src = str(tmp_path / "d")
    _mk(src + SWAP_OLD, "old")
    recover_dir_swap(spark, src)
    assert _tag(src) == "old"
    assert not os.path.exists(src + SWAP_OLD)


def test_recover_noop_on_absent_and_clean(spark, tmp_path):
    src = str(tmp_path / "nothing")
    recover_dir_swap(spark, src)  # absent: no-op, no raise
    assert not os.path.exists(src)
    _mk(src, "clean")
    recover_dir_swap(spark, src)
    assert _tag(src) == "clean"


def test_repeated_interruption_converges(spark, tmp_path):
    """Simulate a compact that keeps crashing at a different point:
    recover + redo always lands the rewrite exactly once."""
    src = str(tmp_path / "d")
    _mk(src, "v1")
    # attempt 1 crashes after writing the rewrite
    _mk(src + SWAP_NEW, "v2")
    recover_dir_swap(spark, src)          # rewrite discarded, src=v1
    assert _tag(src) == "v1"
    # attempt 2 crashes between aside-rename and rename-in
    _mk(src + SWAP_NEW, "v2")
    shutil.move(src, src + SWAP_OLD)
    recover_dir_swap(spark, src)          # swap finished, src=v2
    assert _tag(src) == "v2"
    # attempt 3: clean swap on the recovered state
    _mk(src + SWAP_NEW, "v3")
    swap_dir_into_place(spark, src)
    assert _tag(src) == "v3"
