"""The commit protocol (README "Commit protocol"): every in-place table
rewrite goes through ``writers.staged_rewrite`` and every streaming state
commit through ``writers.commit_version``. A crash at the commit step
leaves the previous state readable and intact; a rerun converges."""

from __future__ import annotations

import json
import os
import re

import pytest
from pyspark.sql import functions as F

from databricks_demo_feature_store_spark.featurestore.manager import (
    FeatureStoreManager,
    FeatureTableSpec,
)
from databricks_demo_feature_store_spark.sources import writers
from databricks_demo_feature_store_spark.sources.column_mapping import (
    MAPPING_FILE,
    read_with_mapping,
    rename_column,
)

SPEC = FeatureTableSpec(name="t", primary_keys=("k",), description="commit test")


def _tree(path):
    """Every file under ``path`` with its bytes: the whole on-disk state."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = fh.read()
    return out


def _staging_dirs(root):
    return [
        d for _r, dirs, _f in os.walk(root) for d in dirs if "__staging" in d
    ]


# -- staged rewrites ----------------------------------------------------------


def _merge(spark, mgr, path):
    writers.merge_upsert(
        spark.createDataFrame([(2, 20.0), (4, 4.0)], "k int, v double"), path, ["k"]
    )


def _compact(spark, mgr, path):
    writers.compact(spark, path, target_partitions=1)


def _zorder(spark, mgr, path):
    assert writers.maybe_compact(
        spark, path,
        policy=writers.CompactionPolicy(
            small_file_bytes=1 << 30, min_small_files=1, zorder_by=("k", "v")
        ),
    )


def _replace_entities(spark, mgr, path):
    from databricks_demo_feature_store_spark.pipelines.incremental import (
        replace_entities,
    )

    replace_entities(
        spark.createDataFrame([(1, 10.0)], "k int, v double"), path, "k"
    )


def _materialize(spark, mgr, path):
    from databricks_demo_feature_store_spark.sources.column_mapping import (
        materialize_mapping,
    )

    assert materialize_mapping(spark, path) == 1


def _prepare_deletes(spark, path):
    from databricks_demo_feature_store_spark.sources.deletion_vectors import (
        delete_rows,
    )

    assert delete_rows(spark, path, "k = 1") == 1


def _apply_deletes(spark, mgr, path):
    from databricks_demo_feature_store_spark.sources.deletion_vectors import (
        apply_deletes,
    )

    assert apply_deletes(spark, path) == 1


def _forget(spark, mgr, path):
    from databricks_demo_feature_store_spark.featurestore import forget_entities

    forget_entities(mgr, spark.createDataFrame([(1,)], "k int"), "k")


def _self_overwrite(spark, mgr, path):
    mgr.save(mgr.read("t").filter("k > 1"), SPEC, mode="overwrite")


def _prepare_stats(spark, path):
    from databricks_demo_feature_store_spark.sources.skipping import (
        write_stats_sidecar,
    )

    write_stats_sidecar(spark, path, ["k"])


def _stats(spark, mgr, path):
    _prepare_stats(spark, path)


def _prepare_bloom(spark, path):
    from databricks_demo_feature_store_spark.sources.skipping import (
        write_bloom_sidecar,
    )

    write_bloom_sidecar(spark, path, ["k"])


def _bloom(spark, mgr, path):
    _prepare_bloom(spark, path)


STAGED_CALLERS = {
    "merge_upsert": (None, _merge),
    "compact": (None, _compact),
    "maybe_compact_zorder": (None, _zorder),
    "replace_entities": (None, _replace_entities),
    "materialize_mapping": (None, _materialize),
    "apply_deletes": (_prepare_deletes, _apply_deletes),
    "forget_entities": (None, _forget),
    "manager_save_overwrite": (None, _self_overwrite),
    "stats_sidecar": (_prepare_stats, _stats),
    "bloom_sidecar": (_prepare_bloom, _bloom),
}


@pytest.mark.parametrize("caller", sorted(STAGED_CALLERS))
def test_staged_rewrite_crash_then_carry(spark, tmp_path, monkeypatch, caller):
    """A crash at ``_swap_dirs`` leaves the live table and its sidecars
    byte-identical and no staging debris; the clean rerun carries the
    registry and mapping sidecars (the mapping only drops when the rewrite
    bakes it into the files)."""
    prepare, run = STAGED_CALLERS[caller]
    mgr = FeatureStoreManager(spark, str(tmp_path / "store"))
    mgr.save(
        spark.createDataFrame([(1, 1.0), (2, 2.0), (3, 3.0)], "k int, v double"),
        SPEC, mode="overwrite",
    )
    path = mgr.path("t")
    with open(os.path.join(path, MAPPING_FILE), "w") as fh:
        json.dump({"v": "value"}, fh)
    if prepare is not None:
        prepare(spark, path)
    before = _tree(path)

    def crash(live, staging, expected_generation=None):
        raise RuntimeError("injected crash at swap")

    monkeypatch.setattr(writers, "_swap_dirs", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        run(spark, mgr, path)
    assert _tree(path) == before
    assert _staging_dirs(mgr.root) == []
    assert mgr.list_tables() == ["t"]

    monkeypatch.undo()
    run(spark, mgr, path)
    assert _staging_dirs(mgr.root) == []
    assert mgr.list_tables() == ["t"]
    assert mgr.get_metadata("t")["primary_keys"] == ["k"]
    has_mapping = os.path.exists(os.path.join(path, MAPPING_FILE))
    assert has_mapping == (caller != "materialize_mapping")
    assert set(read_with_mapping(spark, path).columns) == {"k", "value"}


# -- versioned streaming state ------------------------------------------------

CDC_SCHEMA = "k long, seq long, op string, name string"


def _cdc_drop(ctx, rows):
    os.makedirs(ctx["inbox"], exist_ok=True)
    with open(os.path.join(ctx["inbox"], "w0.jsonl"), "w") as fh:
        fh.write("\n".join(
            json.dumps({"k": k, "seq": s, "op": o, "name": n}) for k, s, o, n in rows
        ))


def _apply_stream(spark, ctx):
    from databricks_demo_feature_store_spark.streaming.ops import (
        stream_apply_changes,
    )

    stream_apply_changes(
        spark, ctx["inbox"], ctx["dir"], ctx["ckpt"],
        keys=["k"], sequence_col="seq", schema=CDC_SCHEMA,
    ).awaitTermination(120)


def _init_cdc(spark, ctx):
    from databricks_demo_feature_store_spark.streaming.ops import init_cdc_table

    init_cdc_table(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, name string"), ctx["dir"]
    )


def _prepare_apply(spark, ctx):
    _init_cdc(spark, ctx)
    _cdc_drop(ctx, [(1, 5, "D", None), (3, 6, "U", "c"), (2, 7, "U", "B")])


def _prepare_vacuum(spark, ctx):
    _prepare_apply(spark, ctx)
    _apply_stream(spark, ctx)


def _vacuum(spark, ctx):
    from databricks_demo_feature_store_spark.streaming.ops import vacuum_cdc_table

    assert vacuum_cdc_table(spark, ctx["dir"], horizon_seq=10) == 1


def _cms_batch(spark, ctx, batch_id, words):
    from databricks_demo_feature_store_spark.streaming.ops import _merge_cms_batch

    batch = spark.createDataFrame([(w,) for w in words], "text string")
    _merge_cms_batch(batch, batch_id, ctx["dir"], "text", 4, 64, 0)


def _prepare_trailing(spark, ctx):
    os.makedirs(ctx["inbox"], exist_ok=True)
    with open(os.path.join(ctx["inbox"], "w0.jsonl"), "w") as fh:
        fh.write("\n".join(
            json.dumps({"user_id": u, "ts": f"2024-01-0{d}T00:00:00", "value": v})
            for u, d, v in [(1, 1, 10.0), (1, 3, 5.0), (2, 2, 7.0)]
        ))


def _trailing_stream(spark, ctx):
    from databricks_demo_feature_store_spark.streaming.ops import (
        stream_trailing_state,
    )

    stream_trailing_state(
        spark, ctx["inbox"], ctx["dir"], ctx["ckpt"],
        keys=["user_id"], event_time="ts", value_col="value",
        schema="user_id bigint, ts timestamp, value double",
    ).awaitTermination(120)


def _cdf_rows(spark, k):
    return spark.createDataFrame([(i, float(i)) for i in range(k)], "k int, v double")


def _prepare_cdf(spark, ctx):
    from databricks_demo_feature_store_spark.streaming.ops import init_cdf_view

    init_cdf_view(_cdf_rows(spark, 2), ctx["dir"], 0)


def _commit_cdf(spark, ctx):
    from databricks_demo_feature_store_spark.streaming.ops import _commit_cdf_view

    _commit_cdf_view(_cdf_rows(spark, 3), ctx["dir"], 5)


def _latest_rows(spark, ctx):
    """The resolved state plus its marker files, as comparable values."""
    v = writers.latest_version(ctx["dir"])
    vdir = os.path.join(ctx["dir"], f"v{v}")
    markers = {
        f: _tree(vdir)[f] for f in ("_APPLIED_BATCH", "_source_version.json")
        if os.path.exists(os.path.join(vdir, f))
    }
    rows = sorted(tuple(r) for r in spark.read.parquet(vdir).collect())
    return rows, markers


VERSION_CALLERS = {
    "merge_cms_batch": (
        lambda s, c: _cms_batch(s, c, 0, ["a", "b", "a"]),
        lambda s, c: _cms_batch(s, c, 1, ["b", "c"]),
    ),
    "init_cdc_table": (None, _init_cdc),
    "stream_apply_changes": (_prepare_apply, _apply_stream),
    "vacuum_cdc_table": (_prepare_vacuum, _vacuum),
    "stream_trailing_state": (_prepare_trailing, _trailing_stream),
    "commit_cdf_view": (_prepare_cdf, _commit_cdf),
}


@pytest.mark.parametrize("caller", sorted(VERSION_CALLERS))
def test_versioned_commit_crash_then_replay(spark, tmp_path, monkeypatch, caller):
    """A crash right before the ``v<N>`` rename leaves ``latest_version``
    where it was; replaying the step converges to a clean run's state,
    markers included."""
    prepare, step = VERSION_CALLERS[caller]

    def ctx_for(name):
        d = tmp_path / name
        return {"dir": str(d / "state"), "inbox": str(d / "inbox"), "ckpt": str(d / "ckpt")}

    clean, crashed = ctx_for("clean"), ctx_for("crashed")
    for ctx in (clean, crashed):
        if prepare is not None:
            prepare(spark, ctx)
    step(spark, clean)

    before = writers.latest_version(crashed["dir"])
    real_rename = os.rename

    def crash(src, dst, *a, **kw):
        if re.fullmatch(r"v\d+", os.path.basename(dst)):
            raise RuntimeError("injected crash before commit rename")
        return real_rename(src, dst, *a, **kw)

    monkeypatch.setattr(os, "rename", crash)
    with pytest.raises(Exception, match="injected crash"):
        step(spark, crashed)
    monkeypatch.undo()
    assert writers.latest_version(crashed["dir"]) == before

    step(spark, crashed)
    assert writers.latest_version(crashed["dir"]) == writers.latest_version(clean["dir"])
    assert _latest_rows(spark, crashed) == _latest_rows(spark, clean)


def test_versioned_markers_keep_their_bytes(spark, tmp_path):
    """State written by earlier versions must still resume: the marker
    files keep their exact on-disk form."""
    from databricks_demo_feature_store_spark.streaming.ops import (
        init_cdc_table,
        init_cdf_view,
    )

    cdc, view = str(tmp_path / "cdc"), str(tmp_path / "view")
    init_cdc_table(spark.createDataFrame([(1, "a")], "k long, name string"), cdc)
    init_cdf_view(_cdf_rows(spark, 1), view, 7)
    with open(os.path.join(cdc, "v0", "_APPLIED_BATCH")) as fh:
        assert fh.read() == "-1"
    with open(os.path.join(view, "v0", "_source_version.json")) as fh:
        assert fh.read() == '{"source_version": 7}'


# -- regressions: what each rewrite used to lose ------------------------------


def test_entity_refresh_keeps_registry_metadata(spark, tmp_path):
    """incremental_entity_refresh on a manager table used to swap in a
    directory without _feature_metadata.json (get_metadata -> {})."""
    from databricks_demo_feature_store_spark.pipelines.incremental import (
        incremental_entity_refresh,
    )

    mgr = FeatureStoreManager(spark, str(tmp_path / "store"))
    src = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k int, v double")
    mgr.save(src, SPEC, mode="overwrite")
    incremental_entity_refresh(
        src.withColumn("v", F.col("v") * 10),
        spark.createDataFrame([(2,)], "k int"),
        lambda df: df, "k", "k", mgr.path("t"),
    )
    assert sorted(tuple(r) for r in mgr.read("t").collect()) == [(1, 1.0), (2, 20.0)]
    assert mgr.get_metadata("t")["primary_keys"] == ["k"]


def test_replace_entities_folds_pending_deletes(spark, tmp_path):
    """The rewrite drops the _dv sidecar, so rows deleted through it must
    stay deleted instead of coming back with the swap."""
    from databricks_demo_feature_store_spark.pipelines.incremental import (
        replace_entities,
    )

    path = str(tmp_path / "t")
    spark.createDataFrame([(1, 1.0), (2, 2.0), (3, 3.0)], "k int, v double").write.parquet(path)
    _prepare_deletes(spark, path)  # deletes k = 1
    replace_entities(spark.createDataFrame([(2, 20.0)], "k int, v double"), path, "k")
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == [
        (2, 20.0), (3, 3.0)
    ]


def test_compact_keeps_metadata_and_column_mapping(spark, tmp_path):
    """compact() used to drop both table sidecars: the registry metadata,
    and the column mapping, so a renamed column read back under its
    physical name."""
    mgr = FeatureStoreManager(spark, str(tmp_path / "store"))
    mgr.save(
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "k int, v double").repartition(2),
        SPEC, mode="overwrite",
    )
    path = mgr.path("t")
    rename_column(spark, path, "v", "value")
    writers.compact(spark, path, target_partitions=1)
    assert read_with_mapping(spark, path).columns == ["k", "value"]
    assert mgr.get_metadata("t")["description"] == "commit test"


def test_overwrite_from_own_table_keeps_table(spark, tmp_path):
    """save(mgr.read(t).filter(...), mode="overwrite") used to delete the
    live files before the read ran (FAILED_READ_FILE.FILE_NOT_EXIST),
    leaving neither data nor metadata."""
    mgr = FeatureStoreManager(spark, str(tmp_path / "store"))
    mgr.save(
        spark.createDataFrame([(1, 1.0), (2, 2.0), (3, 3.0)], "k int, v double"),
        SPEC, mode="overwrite",
    )
    mgr.save(mgr.read("t").filter("k > 1"), SPEC, mode="overwrite")
    assert mgr.exists("t")
    assert sorted(r.k for r in mgr.read("t").collect()) == [2, 3]
    assert mgr.get_metadata("t")["primary_keys"] == ["k"]


# -- JSON sidecars ---------------------------------------------------------------


def test_manifest_survives_failure_mid_dump(spark, tmp_path, monkeypatch):
    """A crash while the version manifest is being written must leave the
    previous manifest readable: history() still lists the old version."""
    from databricks_demo_feature_store_spark.sources.versioned import (
        MANIFEST,
        VersionedTable,
    )

    table = VersionedTable(spark, str(tmp_path / "vt"))
    table.save(spark.createDataFrame([(1,)], "k int"))
    real_dump = json.dump

    def torn_dump(obj, fh, **kw):
        if MANIFEST not in getattr(fh, "name", ""):
            return real_dump(obj, fh, **kw)
        fh.write(json.dumps(obj, **kw)[:20])
        raise OSError("injected crash mid-dump")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="mid-dump"):
        table.save(spark.createDataFrame([(2,)], "k int"))
    monkeypatch.undo()
    assert [v.version for v in table.history()] == [0]
    assert [r.k for r in table.read().collect()] == [1]


def test_save_many_explicit_workers_beat_env(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_SAVE_MANY_WORKERS only fills in max_workers=None; an
    explicit value, including 3, wins."""
    import concurrent.futures

    pools = []
    real_pool = concurrent.futures.ThreadPoolExecutor

    def spy(max_workers=None, **kw):
        pools.append(max_workers)
        return real_pool(max_workers=max_workers, **kw)

    monkeypatch.setattr(concurrent.futures, "ThreadPoolExecutor", spy)
    monkeypatch.setenv("SPARK_GRAFT_SAVE_MANY_WORKERS", "1")
    mgr = FeatureStoreManager(spark, str(tmp_path / "store"))
    monkeypatch.setattr(mgr, "save", lambda df, spec, mode, policy: None)
    items = [(None, FeatureTableSpec(name=n, primary_keys=("k",))) for n in "ab"]

    mgr.save_many(items)
    assert pools == []  # env: one worker, sequential
    mgr.save_many(items, max_workers=3)
    assert pools == [2]  # explicit 3, capped at the two items
