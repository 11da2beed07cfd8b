"""TableIO contract test: atomic commit visibility, orphan invisibility,
committed metadata, pruning."""

from __future__ import annotations

import json
import os

import pytest

from language_identification_spark.sources.tableio import ParquetTableIO


@pytest.fixture(params=[ParquetTableIO], ids=["ParquetTableIO"])
def impl(request):
    return request.param


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr(
        "id", "cast(id * 2 as long) as doubled"
    )


def test_append_read_roundtrip(spark, tmp_path, impl):
    t = impl(str(tmp_path / "t"))
    t.append(_df(spark, 0, 5), {"bucket": 0})
    t.append(_df(spark, 5, 8), {"bucket": 1})
    got = t.read(spark)
    assert got.count() == 8
    assert sorted(r.id for r in got.collect()) == list(range(8))
    assert [m["bucket"] for m in t.committed_meta()] == [0, 1]


def test_uncommitted_data_invisible(spark, tmp_path, impl):
    # simulate a crash between the data write and the manifest swap: a data
    # dir with no manifest entry must be invisible to readers
    t = impl(str(tmp_path / "t"))
    t.append(_df(spark, 0, 3), {"bucket": 0})
    orphan = os.path.join(t.table_path, "snap-deadbeefcafe0000")
    _df(spark, 100, 110).write.parquet(orphan)
    assert t.read(spark).count() == 3  # orphan rows never appear
    assert len(t.snapshots()) == 1


def test_empty_table_reads_none(spark, tmp_path, impl):
    assert impl(str(tmp_path / "t")).read(spark) is None


def test_prune_drops_snapshots_atomically(spark, tmp_path, impl):
    t = impl(str(tmp_path / "t"))
    t.append(_df(spark, 0, 3), {"bucket": 0})
    t.append(_df(spark, 3, 6), {"bucket": 1})
    dropped = t.prune(lambda s: s["meta"]["bucket"] == 0)
    assert dropped == 1
    assert t.read(spark).count() == 3
    assert [m["bucket"] for m in t.committed_meta()] == [0]
    # manifest stays valid json after prune
    with open(os.path.join(t.table_path, "_manifest.json")) as f:
        assert len(json.load(f)["snapshots"]) == 1


def test_callable_meta_runs_after_data_lands_and_can_veto(spark, tmp_path, impl):
    t = impl(str(tmp_path / "t"))
    seen = []

    def meta():
        landed = [d for d in os.listdir(t.table_path) if d.startswith("snap-")]
        seen.append(len(landed))
        return {"bucket": 0, "rows": 5}

    t.append(_df(spark, 0, 5), meta)
    assert seen == [1]  # the data dir existed before the manifest swap
    assert t.committed_meta() == [{"bucket": 0, "rows": 5}]

    def veto():
        raise RuntimeError("veto")

    with pytest.raises(RuntimeError, match="veto"):
        t.append(_df(spark, 5, 9), veto)
    # the vetoed snapshot's files landed but stay invisible
    assert len([d for d in os.listdir(t.table_path) if d.startswith("snap-")]) == 2
    assert t.read(spark).count() == 5
    assert len(t.snapshots()) == 1


def test_concurrent_appends_lose_no_commit(tmp_path):
    # the manifest read-modify-write is serialised per table: many threads
    # appending at once, with the interpreter switching threads as often as
    # it can, must leave every snapshot in the manifest
    import sys
    import threading

    class DirOnlyFrame:
        """Stands in for a DataFrame whose parquet write only makes the dir."""

        @property
        def write(self):
            return self

        def mode(self, _):
            return self

        def parquet(self, data_dir):
            os.makedirs(data_dir)

    t = ParquetTableIO(str(tmp_path / "t"))
    n_threads, per_thread = 16, 25

    def worker(i):
        for j in range(per_thread):
            t.append(DirOnlyFrame(), lambda: {"w": i, "j": j})

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(n_threads)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    metas = t.committed_meta()
    assert len(metas) == n_threads * per_thread
    assert {(m["w"], m["j"]) for m in metas} == {
        (i, j) for i in range(n_threads) for j in range(per_thread)
    }
