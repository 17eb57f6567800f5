"""``fs_cycle``: the reference's feature-store job, then a small delta.

Set-up writes the seeded generator fixture. Each iteration, in its own
scratch root:

1. ``run_reference_stack`` builds the five feature frames and
   ``save_many(mode="overwrite")`` writes them into a fresh store;
2. a CDC drop touching 1% of customers (chosen from the seed and the
   iteration) is applied to ``clientes`` by ``stream_apply_changes``;
3. ``incremental_entity_refresh`` rewrites the demographic features of
   the touched customers from the updated ``clientes``;
4. their payment features are recomputed and saved with
   ``save(mode="merge")``;
5. a point-in-time training set (every customer x 3 label dates, two
   lookups) and the online snapshot (``latest_features``) are written.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time

N_CUSTOMERS = 1000
MONTHS = 12
START, END = "2023-02-01", "2024-01-01"
LABEL_DATES = ("2023-06-15", "2023-09-15", "2023-12-15")
DELTA_SHARE = 0.01
PAYMENT = "fs_cus_payment_behavior"
DEMOGRAPHIC = "fs_cus_demographic"
# not the demographic table: the entity refresh rewrites its directory
# without the registry sidecar, so it has no timestamp key to join on
LOOKUPS = (PAYMENT, "fs_cus_transactions")
CLIENTES_CDC_SCHEMA = (
    "id_cliente long, seq long, op string, edad int, genero string, "
    "estado_civil string, nivel_educativo string, ingresos_mensuales double, "
    "zona_residencia string, ciudad string, fecha_apertura date, "
    "segmento_cliente string"
)
SEGMENTS = ((10000, "ELITE"), (4000, "PREMIUM"), (2500, "PRESTIGE"), (0, "SILVER"))
PINNED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def _spec(name):
    from databricks_demo_feature_store_spark.featurestore.manager import FeatureTableSpec

    return FeatureTableSpec(name, ("pk_customer", "tpk_release_dt"), ("tpk_release_dt",))


def digests(frames: dict) -> dict[str, str]:
    """Order-independent content digest of each frame, in one Spark job:
    row count and the sum of per-row hashes over the columns in name
    order."""
    from functools import reduce

    from pyspark.sql import DataFrame, functions as F

    parts = [
        df.select(
            F.lit(name).alias("name"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*[F.col(c) for c in sorted(df.columns)]).cast("decimal(38,0)"))
            .alias("h"),
        )
        for name, df in frames.items()
    ]
    return {r["name"]: f"{r['n']}:{r['h']}" for r in reduce(DataFrame.unionByName, parts).collect()}


def parquet_stats(path: str) -> tuple[int, int]:
    """(rows, bytes) of the parquet data files under ``path``."""
    import pyarrow.parquet as pq

    rows = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                rows += pq.read_metadata(p).num_rows
                size += os.path.getsize(p)
    return rows, size


class FsCycle:
    name = "fs_cycle"
    # set-up has warmed the JVM; a second 20 s iteration does not fit the
    # hour a full comparison may take, so the first iteration is timed
    warmup_iterations = 0
    # the first set-up launches the JVM and the second is warm; a third
    # warm one would cost 7 s of every run for the same median
    setups = 2

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.size = {"customers": N_CUSTOMERS, "months": MONTHS}
        self.counts: dict[str, int] = {}
        self.entities = None
        with open(PINNED) as fh:
            pinned = json.load(fh)[self.name]
        same = pinned["seed"] == seed and pinned["size"] == self.size
        self.pinned = pinned["digests"] if same else {}

    # -- set-up -------------------------------------------------------------
    def setup(self, rec, k: int) -> None:
        from databricks_demo_feature_store_spark.sources.datagen import generate_all

        root = os.path.join(self.work, f"sources{k}")
        with rec.span("setup.datagen"):
            paths = generate_all(rec.spark, root, n=N_CUSTOMERS, months=MONTHS, seed=self.seed)
        if k:
            shutil.rmtree(os.path.join(self.work, f"sources{k - 1}"), ignore_errors=True)
        self.paths = paths

    def prepare(self, rec) -> None:
        """Bind the last set-up's fixture to the (final) session."""
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        spark = rec.spark
        self.tables = {k: spark.read.parquet(p) for k, p in self.paths.items()}
        # the CDC drops copy these rows; read without a Spark job
        rows = pq.read_table(self.paths["clientes"]).to_pylist()
        self.clientes = {r["id_cliente"]: r for r in rows}
        dates = spark.createDataFrame([(d,) for d in LABEL_DATES], "d string")
        self.spine = (
            self.tables["clientes"]
            .select(F.col("id_cliente").alias("pk_customer"))
            .crossJoin(dates.select(F.col("d").cast("timestamp").alias("label_ts")))
        )

    # -- one iteration --------------------------------------------------------
    def touched(self, i: int) -> list[int]:
        rng = random.Random(self.seed * 1_000_003 + i)
        return sorted(rng.sample(sorted(self.clientes), max(1, int(N_CUSTOMERS * DELTA_SHARE))))

    def _write_drop(self, inbox: str, ids: list[int]) -> None:
        os.makedirs(inbox, exist_ok=True)
        with open(os.path.join(inbox, "drop-0.json"), "w") as fh:
            for seq, cid in enumerate(ids):
                row = dict(self.clientes[cid])
                income = round(row["ingresos_mensuales"] * 1.25, 2)
                row.update(
                    seq=seq, op="U", ingresos_mensuales=income,
                    segmento_cliente=next(s for lo, s in SEGMENTS if income >= lo),
                    fecha_apertura=row["fecha_apertura"].isoformat(),
                )
                fh.write(json.dumps(row) + "\n")

    def iteration(self, rec, i: int, root: str) -> dict:
        from pyspark.sql import functions as F

        from databricks_demo_feature_store_spark.featurestore.manager import FeatureStoreManager
        from databricks_demo_feature_store_spark.featurestore.training import (
            FeatureLookup, create_training_set, latest_features,
        )
        from databricks_demo_feature_store_spark.pipelines.incremental import (
            incremental_entity_refresh,
        )
        from databricks_demo_feature_store_spark.pipelines.reference_sources import (
            demographic_features_from_clientes, payment_features_from_pagos,
            run_reference_stack,
        )
        from databricks_demo_feature_store_spark.streaming.ops import (
            init_cdc_table, read_cdc_table, stream_apply_changes,
        )
        from spans import plan_probe

        spark = rec.spark
        store = FeatureStoreManager(spark, os.path.join(root, "store"))
        with rec.span("pipelines.build"):
            frames = run_reference_stack(spark, self.tables, START, END)
        with rec.span("featurestore.save_many"):
            store.save_many([(df, _spec(n)) for n, df in frames.items()], mode="overwrite")

        ids = self.touched(i)
        cdc, inbox = os.path.join(root, "clientes_cdc"), os.path.join(root, "inbox")
        init_cdc_table(self.tables["clientes"], cdc)
        self._write_drop(inbox, ids)
        with rec.span("streaming.cdc_apply") as s:
            q = stream_apply_changes(
                spark, inbox, cdc, os.path.join(root, "ckpt"),
                keys=["id_cliente"], sequence_col="seq", schema=CLIENTES_CDC_SCHEMA,
            )
            s["start_ms"] = (time.time() - s["t0"]) * 1000.0
            q.awaitTermination()
            s["drain_ms"] = (time.time() - s["t0"]) * 1000.0 - s["start_ms"]
            s["progress"] = [p["durationMs"] for p in q.recentProgress]
        clientes_now = read_cdc_table(spark, cdc)
        changed = spark.createDataFrame([(c,) for c in ids], "id_cliente long")

        def demographic(src):
            return demographic_features_from_clientes(src, START, END)

        with rec.span("pipelines.entity_refresh") as s:
            incremental_entity_refresh(
                clientes_now, changed, demographic, "id_cliente", "pk_customer",
                store.path(DEMOGRAPHIC),
            )
        if rec.trace:
            s["changed_rows"] = demographic(
                clientes_now.join(changed, "id_cliente", "left_semi")
            ).count()
        pay_delta = payment_features_from_pagos(
            self.tables["pagos"].join(F.broadcast(changed), "id_cliente", "left_semi")
        )
        with rec.span("featurestore.merge") as s:
            store.save(pay_delta, _spec(PAYMENT), mode="merge")
        if rec.trace:
            s["changed_rows"] = pay_delta.count()

        with rec.span("featurestore.training_set") as s:
            ts = create_training_set(
                store, self.spine,
                [FeatureLookup(t, ("pk_customer",)) for t in LOOKUPS], "label_ts",
            )
            if rec.trace:
                s["plan_ms"], s["probe_ms"] = plan_probe(ts)
            ts.write.parquet(os.path.join(root, "training_set"))
        with rec.span("featurestore.snapshot") as s:
            snap = latest_features(
                store.read(PAYMENT), ["pk_customer", "tpk_release_dt"], "tpk_release_dt"
            )
            if rec.trace:
                s["plan_ms"], s["probe_ms"] = plan_probe(snap)
            snap.write.parquet(os.path.join(root, "snapshot"))
        return {
            "store": store, "frames": frames, "clientes_now": clientes_now,
            "demographic": demographic, "payment": payment_features_from_pagos,
            "root": root,
        }

    # -- output checks ------------------------------------------------------------
    def check(self, out: dict) -> list[str]:
        """Problems found in one iteration's outputs ([] when correct).
        The first iteration also gets the recompute and digest checks;
        later ones are held to the row counts it had."""
        problems = []
        full = not self.counts
        store, root = out["store"], out["root"]
        counts = {n: parquet_stats(store.path(n))[0] for n in out["frames"]}
        if full:
            # every table must equal a full recompute over the updated sources
            recompute = dict(out["frames"])
            recompute[DEMOGRAPHIC] = out["demographic"](out["clientes_now"])
            recompute[PAYMENT] = out["payment"](self.tables["pagos"])
            read = store.spark.read.parquet
            stored = {n: store.read(n) for n in recompute}
            stored["training_set"] = read(os.path.join(root, "training_set"))
            stored["snapshot"] = read(os.path.join(root, "snapshot"))
            got = digests({
                **stored,
                **{f"recompute:{n}": df for n, df in recompute.items()},
                "entities": store.read(PAYMENT).select("pk_customer").distinct(),
            })
            problems += [
                f"{n}: stored {got[n]} != full recompute {got['recompute:' + n]}"
                for n in recompute if got[n] != got["recompute:" + n]
            ]
            self.counts = counts
            self.entities = int(got["entities"].split(":")[0])
            self.digests = {n: got[n] for n in stored}
            problems += [
                f"{k}: digest {self.digests.get(k)} != pinned {v}"
                for k, v in self.pinned.items() if self.digests.get(k) != v
            ]
        elif counts != self.counts:
            problems.append(f"table row counts {counts} != first iteration {self.counts}")
        spine_rows = N_CUSTOMERS * len(LABEL_DATES)
        ts_rows = parquet_stats(os.path.join(root, "training_set"))[0]
        if ts_rows != spine_rows:
            problems.append(f"training set has {ts_rows} rows for {spine_rows} spine rows")
        snap_rows = parquet_stats(os.path.join(root, "snapshot"))[0]
        if snap_rows != self.entities:
            problems.append(f"snapshot has {snap_rows} rows for {self.entities} entities")
        return problems

    def layer_extras(self, out: dict) -> dict:
        """Bytes on disk per stored feature row (an exact count)."""
        rows = size = 0
        for n in out["frames"]:
            r, b = parquet_stats(out["store"].path(n))
            rows, size = rows + r, size + b
        return {"store_bytes_per_row": size / rows}

