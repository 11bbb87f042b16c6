"""The kind-agnostic ANN index-store lifecycle (pipeline/ann_index.py) on
a tiny synthetic root: one append, one delete and one compact for every
index kind, with the encoder as the only per-kind code. The real
encoders and the streaming drives are pinned in test_ann_index.py and
test_ann_ingest_stream.py; this file keeps the store contracts
(exactly-once appends, idempotent deletes, the compaction rule, no
orphaned staging) in the default run."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from projekt_data_engineering_iubh_spark.pipeline import ann_index, store
from projekt_data_engineering_iubh_spark.plans import vector_queries as vq

VEC_SCHEMA = "vec_id long, embedding array<float>"


def _cell_encode(spark, cur, late):
    """A stand-in encoder: every vector lands in cell vec_id % 4."""
    return late.select(
        "vec_id", (F.col("vec_id") % 4).cast("int").alias("cell")
    )


def _vectors(spark, ids):
    return spark.createDataFrame(
        [(int(i), [float(i)] * 4) for i in ids], VEC_SCHEMA
    )


def _root(spark, tmp_path, ids=range(10)):
    """A committed v1 with a frozen artifact and codes for ``ids``."""
    root = str(tmp_path / "root")

    def build(data_dir):
        spark.createDataFrame(
            [(0, [1, 2])], "cell int, cq array<bigint>"
        ).coalesce(1).write.parquet(os.path.join(data_dir, "frozen"))
        _cell_encode(spark, None, _vectors(spark, ids)).coalesce(
            1
        ).write.parquet(os.path.join(data_dir, "codes"))

    store.commit_snapshot(root, build)
    return root


def _live(spark, root):
    return sorted(
        r.vec_id
        for r in ann_index.read_live_codes(spark, store.resolve(root))
        .select("vec_id")
        .collect()
    )


def _inodes(d):
    return {
        os.stat(os.path.join(d, f)).st_ino
        for f in os.listdir(d)
        if not f.startswith(("_", "."))
    }


def test_append_sweeps_stale_staging_dirs(spark, tmp_path):
    """A process that dies between the staged write and its cleanup
    leaks a ``.delta_*`` dir. The next append removes the ones older
    than the staleness bound and keeps a fresh one, which may belong
    to a concurrent appender."""
    root = _root(spark, tmp_path)
    stale = os.path.join(root, ".delta_stale")
    fresh = os.path.join(root, ".delta_fresh")
    for d in (stale, fresh):
        os.makedirs(d)
        open(os.path.join(d, "part-0.parquet"), "wb").close()
    aged = time.time() - ann_index._STALE_STAGING_SECONDS - 60
    os.utime(stale, (aged, aged))

    assert not ann_index.append_generation(
        spark, root, _vectors(spark, []), _cell_encode
    )
    assert not os.path.exists(stale)
    assert os.path.isdir(fresh)


def test_append_delete_compact_contracts(spark, tmp_path):
    root = _root(spark, tmp_path)
    v1 = store.resolve(root)

    # append: duplicates within the delta collapse, live ids drop out,
    # frozen artifacts are linked, and no staging dir is left behind
    batch = _vectors(spark, [8, 9, 10, 11, 11])
    assert ann_index.append_generation(spark, root, batch, _cell_encode)
    v2 = store.resolve(root)
    assert _live(spark, root) == list(range(12))
    assert _inodes(os.path.join(v1, "frozen")) == _inodes(
        os.path.join(v2, "frozen")
    )
    assert not [d for d in os.listdir(root) if d.startswith(".delta_")]
    # a replayed batch commits nothing
    assert not ann_index.append_generation(spark, root, batch, _cell_encode)
    assert store.resolve(root) == v2

    # delete: live keys tombstoned; unknown / already dead keys no-op
    keys = spark.createDataFrame([(1,), (2,)], "vec_id long")
    assert ann_index.delete_generation(spark, root, keys)
    assert _live(spark, root) == [0] + list(range(3, 12))
    again = spark.createDataFrame([(1,), (99,)], "vec_id long")
    assert not ann_index.delete_generation(spark, root, again)

    # re-adding a tombstoned id resurrects it
    assert ann_index.append_generation(
        spark, root, _vectors(spark, [1]), _cell_encode
    )
    assert _live(spark, root) == [0, 1] + list(range(3, 12))

    # compact folds tombstones and small files into one part-file, and
    # is a no-op on a compact root
    before = _live(spark, root)
    assert ann_index.compact(spark, root)
    cur = store.resolve(root)
    assert not os.path.isdir(os.path.join(cur, "tombstones"))
    assert len(ann_index._part_files(os.path.join(cur, "codes"))) == 1
    assert _live(spark, root) == before
    assert os.path.isdir(os.path.join(cur, "frozen"))
    assert not ann_index.compact(spark, root)


def test_cached_expr_keeps_recently_used_entries(spark):
    """The parsed-expression memo is an LRU: an expression used between
    other insertions survives more than maxsize of them (a clear-all
    eviction would re-parse it and return a new Column)."""
    kept = vq._cached_expr("1 + 1")
    for i in range(256):
        vq._cached_expr(f"{i} + 2")
        assert vq._cached_expr("1 + 1") is kept
