"""One materialization idiom (README "Materialization"): pins are
``localCheckpoint`` calls scoped to the frames that use them. No module
keeps a frame alive across calls (so a session restart in the same
process works), and staged rewrites leave no pinned RDD behind."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_RESTART_SCRIPT = """
from databricks_demo_feature_store_spark import get_spark
from databricks_demo_feature_store_spark.textops.dedup import (
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
)

ROWS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, "el rapido zorro marron salta sobre el perro"),
    (4, "the quick brown fox jumps over the lazy dog"),
    (5, "completely different content about spark engines and data"),
]


def run():
    spark = get_spark("restart", master="local[2]", shuffle_partitions=2)
    df = spark.createDataFrame(ROWS, "doc_id long, text string")
    out = (
        sorted(map(tuple, ngram_jaccard_pairs(df, threshold=0.5).collect())),
        sorted(map(tuple, minhash_dedup_pairs(df, threshold=0.5).collect())),
    )
    spark.stop()
    return out


first = run()
second = run()
assert first[0] and first[1], first
assert first == second, (first, second)
print("RESTART_OK")
"""


def test_dedup_survives_session_restart_in_process():
    """Dedup run, session stopped, a new session started in the same
    interpreter, dedup run again: same pairs, no error from a frame
    pinned in the dead context."""
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART_SCRIPT],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0 and "RESTART_OK" in proc.stdout, proc.stderr[-4000:]


def _pinned_rdd_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _dv_table(spark, tmp_path):
    from databricks_demo_feature_store_spark.sources.deletion_vectors import (
        apply_deletes,
        delete_rows,
    )

    path = str(tmp_path / "dv")
    spark.range(0, 30).withColumn("v", F.col("id") * 2).write.parquet(path)
    delete_rows(spark, path, "id % 3 = 0")
    return lambda: apply_deletes(spark, path)


def _mapped_table(spark, tmp_path):
    from databricks_demo_feature_store_spark.sources.column_mapping import (
        materialize_mapping,
        rename_column,
    )

    path = str(tmp_path / "cm")
    spark.range(0, 30).withColumn("v", F.col("id") * 2).write.parquet(path)
    rename_column(spark, path, "v", "value")
    return lambda: materialize_mapping(spark, path)


def _index_store(spark, tmp_path):
    import random

    from databricks_demo_feature_store_spark.featurestore.manager import (
        FeatureStoreManager,
    )
    from databricks_demo_feature_store_spark.textops.index_store import (
        VectorIndexStore,
    )

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1.0, 1.0) for _ in range(8)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    store = VectorIndexStore(
        FeatureStoreManager(spark, str(tmp_path / "fs")),
        name="pins", nlist=2, m=2, pq_k=4,
    )
    store.build(emb)
    return store


def _index_delete(spark, tmp_path):
    store = _index_store(spark, tmp_path)
    ids = spark.createDataFrame([(1,), (2,), (3,)], "vec_id long")
    return lambda: store.delete(ids)


def _index_vacuum(spark, tmp_path):
    store = _index_store(spark, tmp_path)
    store.delete(spark.createDataFrame([(1,), (2,), (3,)], "vec_id long"))
    return store.vacuum_tombstones


@pytest.mark.parametrize(
    "setup",
    [_dv_table, _mapped_table, _index_delete, _index_vacuum],
    ids=["apply_deletes", "materialize_mapping", "index_delete", "index_vacuum"],
)
def test_staged_rewrites_leave_no_pinned_rdd(spark, tmp_path, setup):
    """A rewrite staged away from the files it reads needs no pin: the
    call adds nothing to the context's persistent RDDs (ids are compared,
    so a setup pin released by GC meanwhile cannot mask a new one)."""
    call = setup(spark, tmp_path)
    before = _pinned_rdd_ids(spark)
    call()
    assert _pinned_rdd_ids(spark) - before == set()
