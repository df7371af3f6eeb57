"""The write-once staging rule (tmpdirs.fresh_tmpdir,
sources.tables.staged_layout, sources.formats.write_ordered_files):
one build per (layout name, sf_dir, source fingerprints), reuse only
while the completion marker exists, every path purged at exit."""

import os

import pytest

from mahout_samsara_book_spark import tmpdirs
from mahout_samsara_book_spark.sources.formats import write_ordered_files
from mahout_samsara_book_spark.sources.tables import (
    STAGED_MARKER,
    staged_layout,
)
from mahout_samsara_book_spark.tmpdirs import fresh_tmpdir


@pytest.fixture
def sf_dir(tmp_path):
    """A fixture dir holding one fake source table."""
    (tmp_path / "events.parquet").write_bytes(b"v1")
    return str(tmp_path)


class Builder:
    """A ``build`` callback that records its calls and writes one file."""

    def __init__(self, fail: bool = False):
        self.paths: list[str] = []
        self.fail = fail

    def __call__(self, path: str) -> None:
        self.paths.append(path)
        with open(f"{path}/data", "w") as f:
            f.write("x")
        if self.fail:
            raise RuntimeError("build failed")


def test_fresh_tmpdir_is_new_empty_and_registered():
    a, b = fresh_tmpdir("t"), fresh_tmpdir("t")
    assert a != b
    for p in (a, b):
        assert os.path.isdir(p) and os.listdir(p) == []
        assert p in tmpdirs._DIRS
        assert os.path.basename(p).startswith(f"spark_graft_t_{os.getpid()}_")


def test_second_call_reuses_layout(sf_dir):
    build = Builder()
    p1 = staged_layout("reuse", sf_dir, ("events",), build)
    p2 = staged_layout("reuse", sf_dir, ("events",), build)
    assert p1 == p2
    assert build.paths == [p1]
    assert os.path.exists(f"{p1}/{STAGED_MARKER}")


def test_rewritten_source_rebuilds(sf_dir):
    build = Builder()
    p1 = staged_layout("refp", sf_dir, ("events",), build)
    src = f"{sf_dir}/events.parquet"
    with open(src, "wb") as f:
        f.write(b"version 2")
    os.utime(src, ns=(1_000_000_000, 1_000_000_000))
    p2 = staged_layout("refp", sf_dir, ("events",), build)
    assert p2 != p1
    assert build.paths == [p1, p2]
    # the rebuilt layout is reused in turn
    assert staged_layout("refp", sf_dir, ("events",), build) == p2
    assert len(build.paths) == 2


def test_deleted_marker_rebuilds(sf_dir):
    build = Builder()
    p1 = staged_layout("marker", sf_dir, ("events",), build)
    os.remove(f"{p1}/{STAGED_MARKER}")
    p2 = staged_layout("marker", sf_dir, ("events",), build)
    assert p2 != p1
    assert build.paths == [p1, p2]


def test_failed_build_is_not_reused(sf_dir):
    failing = Builder(fail=True)
    with pytest.raises(RuntimeError, match="build failed"):
        staged_layout("fails", sf_dir, ("events",), failing)
    (partial,) = failing.paths
    assert not os.path.exists(f"{partial}/{STAGED_MARKER}")
    build = Builder()
    path = staged_layout("fails", sf_dir, ("events",), build)
    assert path != partial
    assert build.paths == [path]


def test_names_over_one_sf_dir_get_distinct_layouts(sf_dir):
    # the as-of watermark and TTL layouts share (sf_dir, events
    # fingerprint); only the name keeps them apart
    wm, ttl = Builder(), Builder()
    p_wm = staged_layout("asofwm_t", sf_dir, ("events",), wm)
    p_ttl = staged_layout("asofttl_t", sf_dir, ("events",), ttl)
    assert p_wm != p_ttl
    assert staged_layout("asofwm_t", sf_dir, ("events",), wm) == p_wm
    assert staged_layout("asofttl_t", sf_dir, ("events",), ttl) == p_ttl
    assert wm.paths == [p_wm] and ttl.paths == [p_ttl]


def test_every_staged_path_is_registered_for_purge(sf_dir):
    build = Builder()
    p1 = staged_layout("purge", sf_dir, ("events",), build)
    os.remove(f"{p1}/{STAGED_MARKER}")
    p2 = staged_layout("purge", sf_dir, ("events",), build)
    assert {p1, p2} <= tmpdirs._DIRS


def test_ordered_files_stream_in_list_order(spark, tmp_path):
    """One parquet file per part, ascending mtimes, no leftovers; the
    staging marker stays invisible to a Spark read of the dir."""
    from pyspark.sql import functions as F

    parts = [
        spark.range(0, 50, numPartitions=3).select(
            F.col("id"), F.lit(i).alias("batch")
        )
        for i in range(3)
    ]
    path = str(tmp_path / "layout")
    os.makedirs(path)
    write_ordered_files(parts, path)
    open(f"{path}/{STAGED_MARKER}", "w").close()
    names = sorted(n for n in os.listdir(path) if not n.startswith("_"))
    assert names == ["b00.parquet", "b01.parquet", "b02.parquet"]
    assert sorted(os.listdir(path)) == [STAGED_MARKER, *names]
    mtimes = [os.stat(f"{path}/{n}").st_mtime for n in names]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3
    for i, n in enumerate(names):
        one = spark.read.parquet(f"{path}/{n}")
        assert one.count() == 50
        assert {r["batch"] for r in one.select("batch").collect()} == {i}
    assert spark.read.parquet(path).count() == 150
