"""The snapshot-commit contract, per operation and per ref.

Every snapshot-producing LakeTable operation (merge, merge_into, compact,
rebucket, expire_tombstones, rollback) must, on main and on a branch handle:
parent the new manifest on the handle's previous head, advance only the
handle's ref, write a new lease for data commits and carry the parent's lease
byte-identical for maintenance (the target's for rollback), record its ledger
entry, carry the create-time table properties, and leave every bucket of the
copy-on-write table holding exactly one file."""

import json
import os
import shutil

import pytest
from pyspark.sql import types as T

from change_data_capturer_ms_spark.lake.table import LakeTable

SCHEMA = T.StructType([
    T.StructField("repo", T.StringType()),
    T.StructField("path", T.StringType()),
    T.StructField("content", T.StringType()),
])
PROPS = dict(key_cols=["repo", "path"], n_buckets=4, bloom_cols=["path"],
             bucket_cols=["repo"])


def _batch(spark, rows, seq0=0):
    data = [(r, p, c, seq0 + i, op) for i, (r, p, c, op) in enumerate(rows)]
    return spark.createDataFrame(
        data, "repo string, path string, content string, seq long, op string")


@pytest.fixture(scope="module")
def base(spark, tmpdir_path_mod):
    """A table at v2 (inserts, then an update + a delete tombstone) with a
    branch `side` cut at its head; `first` is the version after batch 0."""
    path = os.path.join(tmpdir_path_mod, "base")
    t = LakeTable(spark, path, **PROPS)
    t.create(SCHEMA)
    first = t.merge(_batch(spark, [("r1", "a", "v0", "insert"),
                                   ("r2", "b", "v0", "insert"),
                                   ("r3", "c", "v0", "insert"),
                                   ("r4", "d", "v0", "insert")]),
                    batch_id=0)["version"]
    t.merge(_batch(spark, [("r2", "b", None, "delete"),
                           ("r1", "a", "v1", "update")], seq0=10), batch_id=1)
    t.create_branch("side")
    return path, first


def _merge(t, spark, first):
    t.merge(_batch(spark, [("r5", "e", "v2", "insert")], seq0=20), batch_id=2)
    return ("data", ("changelog", 2))


def _merge_into(t, spark, first):
    src = spark.createDataFrame([("r1", "a", "mi"), ("r6", "f", "mi")],
                                "repo string, path string, content string")
    t.merge_into(src, batch_id="mi-1", source_id="merge-into")
    return ("data", ("merge-into", "mi-1"))


def _compact(t, spark, first):
    assert t.compact(min_files_per_bucket=1)["compacted_buckets"] > 0
    return ("maintenance", "compact")


def _rebucket(t, spark, first):
    assert t.rebucket(8)["rebucketed"]
    return ("maintenance", "rebucket")


def _expire_tombstones(t, spark, first):
    assert t.expire_tombstones(min_seq=1000)["expired_buckets"] > 0
    return ("maintenance", "expire-tombstones")


def _rollback(t, spark, first):
    assert t.rollback(version=first)["skipped"] is False
    return ("rollback", first)


OPS = [_merge, _merge_into, _compact, _rebucket, _expire_tombstones, _rollback]


@pytest.mark.parametrize("on_branch", [False, True], ids=["main", "branch"])
@pytest.mark.parametrize("op", OPS, ids=lambda f: f.__name__.lstrip("_"))
def test_commit_contract(spark, base, tmp_path, op, on_branch):
    src, first = base
    path = str(tmp_path / "tbl")
    shutil.copytree(src, path)
    table = LakeTable(spark, path, **PROPS)
    handle = table.branch("side") if on_branch else table
    store = table.store

    def refs():
        return store.current_version(), store.get_branch("side")

    main_before, side_before = refs()
    parent = handle.manifest()
    kind, detail = op(handle, spark, first)
    main_after, side_after = refs()

    # only the handle's ref moves; the other ref stays put
    if on_branch:
        assert main_after == main_before
        assert side_after != side_before
        head = side_after
    else:
        assert side_after == side_before
        assert main_after != main_before
        head = main_after
    new = store.load(head)
    assert new.parent == parent.version
    assert new.version > max(main_before, side_before)

    if kind == "data":
        source_id, batch_id = detail
        assert new.lease != parent.lease
        assert new.lease["id"] == source_id
        assert new.lease["batch_id"] == batch_id
        assert new.is_committed(source_id, batch_id)
        assert not parent.is_committed(source_id, batch_id)
    elif kind == "maintenance":
        assert json.dumps(new.lease) == json.dumps(parent.lease)
        assert f"maintenance:{detail}-v{new.version}" in new.committed_batches
    else:  # rollback restores the target's full state, ledger included
        target = store.load(detail)
        assert json.dumps(new.lease) == json.dumps(target.lease)
        assert new.committed_batches == target.committed_batches
        assert new.batch_watermarks == target.batch_watermarks
        assert sorted(f.path for f in new.files) == \
            sorted(f.path for f in target.files)

    expect_buckets = 8 if op is _rebucket else parent.n_buckets
    assert new.n_buckets == expect_buckets
    assert new.write_mode == parent.write_mode == "cow"
    # copy-on-write keeps every bucket at one file: the layout readers and
    # maintenance treat as resolved
    assert new.files and all(len(fs) == 1 for fs in new.by_bucket.values())
    assert new.bloom_cols == parent.bloom_cols == ["path"]
    assert new.bucket_cols == parent.bucket_cols == ["repo"]
    assert new.key_cols == parent.key_cols
