"""The benchmark workloads and the checks of their outputs.

Each workload turns a seed into a fixed list of passes; a pass is a list
of :class:`Op`. An op is one call a user of the engine makes, through
the engine's public functions only. ``check`` runs after the timed
region and returns, per op kind, whether its output was right; a wrong
kind counts every op of that kind as failed.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from check_correctness import duck_connection, norm_rows, type_mismatches
from pyspark.sql import DataFrame, SparkSession

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators import scd, similarity
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans import pipeline
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans.queries import (
    registry,
    release_persisted,
)
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources import tables
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.streaming import incremental


@dataclass
class Op:
    """``run`` is the timed call; ``before`` (clean-up) and ``rows``
    (rows produced, from the call's result) run outside the timing."""

    kind: str
    run: Callable[[], object]
    rows: Callable[[object], int | None] = lambda result: None
    before: Callable[[], None] | None = None


def digest(cols, rows) -> str:
    """Order-insensitive hash of a result, over the correctness gate's
    normalised values (decimals and doubles compare as text). ``cols``
    are names or (name, type) pairs."""
    h = hashlib.sha256()
    for row in norm_rows([c if isinstance(c, str) else c[0] for c in cols], rows):
        h.update(repr(row).encode())
    return h.hexdigest()


def as_double(rows):
    """Decimal cells as doubles: the registry's canonical output type."""
    return [tuple(float(v) if type(v).__name__ == "Decimal" else v for v in r) for r in rows]


def as_double_types(dtypes):
    """Decimal column types as double, to match :func:`as_double`."""
    return [(c, "double" if t.startswith("decimal") else t) for c, t in dtypes]


def parquet_stats(path: str) -> tuple[int, int]:
    """(rows, bytes) of a parquet file or of the data files under a
    directory, from the footers."""
    files = [path] if os.path.isfile(path) else [
        os.path.join(root, f) for root, _, names in os.walk(path) for f in names if f.endswith(".parquet")
    ]
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files), sum(os.path.getsize(f) for f in files)


def tree_bytes(*paths: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f)) for p in paths for root, _, files in os.walk(p) for f in files
    )


class Workload:
    name = ""
    sf = 0.01
    nominal_pass_s = 1.0

    def __init__(self, spark: SparkSession, data_dir: str, work_dir: str, seed: int, tracer):
        self.spark, self.data, self.work, self.tr = spark, data_dir, work_dir, tracer
        self.rng = np.random.default_rng(seed)
        self.reg = registry()

    def query(self, name: str):
        """One registry op: build the plan, collect the result, release
        the query's caches. Returns (dtypes, rows)."""
        with self.tr.span("plans.fn"):
            df = self.reg[name].fn(self.spark, self.data)
        try:
            with self.tr.span("plans.action"):
                return df.dtypes, df.collect()
        finally:
            release_persisted()

    def check_query(self, name: str, con, dtypes, rows) -> bool:
        """Result vs the query's DuckDB oracle: columns, type families,
        row count and the normalised value hash."""
        sql = self.reg[name].oracle
        res = con.execute(sql)
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        cols = [c for c, _ in dtypes]
        return (
            sorted(cols) == sorted(dcols)
            and not type_mismatches(dtypes, con.execute("DESCRIBE " + sql).fetchall())
            and len(rows) == len(drows)
            and digest(cols, as_double(rows)) == digest(dcols, as_double(drows))
        )

    def stored_bytes_per_row(self) -> float:
        raise NotImplementedError


class Dashboard(Workload):
    """Interleaved passes over the registry's BI queries. Each pass starts
    with a seeded incremental refresh of the events fact (the reference
    DAG's create-vs-update step), then runs the queries in a seeded
    order; each query op is ``fn``, a collect of the result and
    ``release_persisted()``. The collected results are the ones
    hash-checked against the oracles."""

    name = "dashboard"
    sf = 0.01
    nominal_pass_s = 10.0
    QUERIES = (
        "q01_pricing_summary q09_topn_parts q14_except_all q16_count_distinct q22_scd_as_of "
        "q23_star_weekday q26_rollup_geo q53_running_total q80_local_supplier_volume"
    ).split()

    def __init__(self, *args):
        super().__init__(*args)
        self.results: dict[str, list] = {}
        self.refreshes: list[tuple[int, tuple[str, int]]] = []

    def passes(self, n: int) -> list[list[Op]]:
        target = os.path.join(self.work, "events_fact")

        def query(name: str) -> Op:
            def run():
                result = self.query(name)
                self.results.setdefault(name, []).append(result)
                return result

            return Op(name, run, rows=lambda r: len(r[1]))

        def refresh(hi_day: int) -> Op:
            def run():
                self.refreshes.append((hi_day, incremental.load_or_update(
                    self.spark, events_until(self.spark, self.data, hi_day), target, "event_date"
                )))
                return self.refreshes[-1][1][1]

            return Op("refresh", run, rows=lambda n: n)

        days = np.sort(self.rng.choice(np.arange(8, 31), n, replace=False))
        return [
            [refresh(int(day))] + [query(self.QUERIES[i]) for i in self.rng.permutation(len(self.QUERIES))]
            for day in days
        ]

    def check(self) -> dict[str, bool]:
        con = duck_connection(self.data)
        ok = {name: all(self.check_query(name, con, *r) for r in runs) for name, runs in self.results.items()}
        target = os.path.join(self.work, "events_fact")
        stored = con.execute(f"SELECT count(*) FROM read_parquet('{target}/**/*.parquet')").fetchone()[0]
        last_day = self.refreshes[-1][0]
        ok["refresh"] = [mode for _, (mode, _) in self.refreshes] == ["create"] + ["update"] * (
            len(self.refreshes) - 1
        ) and stored == con.execute(
            f"SELECT count(*) FROM events WHERE CAST(ts AS DATE) < DATE '2024-01-{last_day:02d}'"
        ).fetchone()[0]
        return ok

    def stored_bytes_per_row(self) -> float:
        """Bytes per row of the refreshed events fact as written."""
        rows, size = parquet_stats(os.path.join(self.work, "events_fact"))
        return size / rows


def events_until(spark: SparkSession, data: str, hi_day: int, lo_day: int | None = None) -> DataFrame:
    """(user_id, event_type, event_date) of the events on days
    [lo_day, hi_day) of January 2024."""
    ev = tables.load_table(spark, data, "events").select("user_id", "event_type", F.to_date("ts").alias("event_date"))
    cond = F.col("event_date") < F.lit(f"2024-01-{hi_day:02d}").cast("date")
    if lo_day is not None:
        cond = cond & (F.col("event_date") >= F.lit(f"2024-01-{lo_day:02d}").cast("date"))
    return ev.where(cond)


class Etl(Workload):
    """Star-warehouse build into a fresh directory, an incremental
    create / seeded delta / idempotent re-run, an SCD2 build plus a
    seeded change batch written back as parquet, and the weekday
    dashboard read from the written tables."""

    name = "etl"
    sf = 0.01
    nominal_pass_s = 10.0

    def __init__(self, *args):
        super().__init__(*args)
        self.cycles: list[dict] = []

    def passes(self, n: int) -> list[list[Op]]:
        return [self._cycle(c) for c in range(n)]

    def _cycle(self, c: int) -> list[Op]:
        d1, d2 = int(self.rng.integers(6, 13)), int(self.rng.integers(16, 27))
        out = os.path.join(self.work, f"etl{c}")
        st = {"dir": out, "d1": d1, "d2": d2, "modes": {}}
        self.cycles.append(st)
        inc_path, scd0, scd1 = (os.path.join(out, d) for d in ("inc", "scd0", "scd1"))

        def drop_previous():
            if c >= 1:
                shutil.rmtree(self.cycles[c - 1]["dir"], ignore_errors=True)

        def build():
            st["paths"] = pipeline.build_star_warehouse(self.spark, self.data, os.path.join(out, "wh"))

        def built_rows(_):
            st["wh"] = [parquet_stats(p) for p in st["paths"].values()]
            return sum(r for r, _ in st["wh"])

        def inc(kind: str, hi_day: int) -> Op:
            def run():
                st["modes"][kind] = incremental.load_or_update(
                    self.spark, events_until(self.spark, self.data, hi_day), inc_path, "event_date"
                )
                return st["modes"][kind][1]

            return Op(kind, run, rows=lambda n: n)

        def scd_build():
            changes = events_until(self.spark, self.data, d1).withColumnRenamed("event_date", "change_date")
            dim = scd.create_scd_from_input(changes, ["user_id", "event_type"], "change_date", "user_id")
            dim.write.mode("overwrite").parquet(scd0)

        def scd_merge():
            old = self.spark.read.parquet(scd0)
            batch = events_until(self.spark, self.data, d2, d1).withColumnRenamed("event_date", "change_date")
            upd, ins = scd.scd_update_and_insert(old, batch, "user_id", "change_date", ["user_id", "event_type"])
            scd.apply_scd_changes(old, upd, ins, "user_id").write.mode("overwrite").parquet(scd1)

        def revenue():
            df = pipeline.revenue_by_weekday(pipeline.read_warehouse(self.spark, st["paths"]))
            st["revenue"] = (df.dtypes, df.collect())
            return st["revenue"]

        return [
            Op("build", build, rows=built_rows, before=drop_previous),
            inc("inc_create", d1),
            inc("inc_delta", d2),
            inc("inc_rerun", d2),
            Op("scd_build", scd_build, rows=lambda _: parquet_stats(scd0)[0]),
            Op("scd_merge", scd_merge, rows=lambda _: parquet_stats(scd1)[0]),
            Op("revenue", revenue, rows=lambda r: len(r[1])),
        ]

    def check(self) -> dict[str, bool]:
        st = self.cycles[-1]
        out, hi = st["dir"], f"DATE '2024-01-{st['d2']:02d}'"
        con = duck_connection(self.data)

        def one(sql: str):
            return con.execute(sql).fetchone()[0]

        def one_current_row_per_key(path: str) -> bool:
            return 0 == one(
                f"SELECT count(*) FROM (SELECT user_id, sum(CAST(is_current AS INT)) c "
                f"FROM read_parquet('{path}/*.parquet') GROUP BY 1) WHERE c <> 1"
            )

        missing_keys = one(
            f"SELECT count(*) FROM (SELECT DISTINCT user_id FROM events WHERE CAST(ts AS DATE) < {hi}) "
            f"ANTI JOIN read_parquet('{out}/scd1/*.parquet') USING (user_id)"
        )
        modes = st["modes"]
        dtypes, rows = st["revenue"]
        return {
            "build": one(f"SELECT count(*) FROM read_parquet('{out}/wh/fact_sales/**/*.parquet')")
            == one("SELECT count(*) FROM lineitem"),
            "inc_create": modes["inc_create"][0] == "create",
            "inc_delta": modes["inc_delta"][0] == "update"
            and one(f"SELECT count(*) FROM read_parquet('{out}/inc/**/*.parquet')")
            == one(f"SELECT count(*) FROM events WHERE CAST(ts AS DATE) < {hi}"),
            "inc_rerun": tuple(modes["inc_rerun"]) == ("update", 0),
            "scd_build": one_current_row_per_key(f"{out}/scd0"),
            "scd_merge": one_current_row_per_key(f"{out}/scd1") and missing_keys == 0,
            # the registry's weekday query is the same aggregate over the
            # source tables, with its decimal sums canonicalised to double
            "revenue": self.check_query("q23_star_weekday", con, as_double_types(dtypes), rows),
        }

    def stored_bytes_per_row(self) -> float:
        rows, size = map(sum, zip(*self.cycles[-1]["wh"]))
        return size / rows


class DedupAnn(Workload):
    """The dedup path (MinHash-LSH candidates, semantic dedup) in a seeded
    order, then a persisted IVF index lifecycle: build, seeded append,
    query batch, update, delete, compact, query batch. Each query batch
    runs as two ops of eight queries: with one op per batch, the median
    of the cycle's nine ops was always the first, cold query batch."""

    name = "dedup_ann"
    sf = 0.01
    nominal_pass_s = 30.0
    DEDUP = ("q35_minhash_lsh", "q190_semantic_dedup")
    K, N_QUERIES, N_CHANGED = 10, 16, 8

    def __init__(self, *args):
        super().__init__(*args)
        emb = pq.read_table(os.path.join(self.data, "embeddings.parquet"), columns=["vec_id", "embedding"])
        self.ids = emb.column("vec_id").to_numpy()
        self.vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float32)
        self.results: dict[str, list] = {}
        self.cycles: list[dict] = []

    def _vectors(self, path: str, ids, vecs) -> DataFrame:
        """Write seeded vectors as parquet (set-up, untimed) and scan them."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(
            pa.table({"vec_id": pa.array(ids, pa.int64()), "embedding": pa.array(list(vecs), pa.list_(pa.float32()))}),
            path,
        )
        return self.spark.read.parquet(path)

    def passes(self, n: int) -> list[list[Op]]:
        return [self._cycle(c) for c in range(n)]

    def _cycle(self, c: int) -> list[Op]:
        rng, n, k = self.rng, len(self.ids), self.N_CHANGED
        perm = rng.permutation(n)
        n_app = n // 10
        app, upd, dele = perm[:n_app], perm[n_app : n_app + k], perm[n_app + k : n_app + 2 * k]
        base = np.setdiff1d(np.arange(n), app)
        new = rng.standard_normal((k, self.vecs.shape[1]))
        new = (new / np.linalg.norm(new, axis=1, keepdims=True)).astype(np.float32)
        qsel = rng.choice(n, self.N_QUERIES, replace=False)
        root = os.path.join(self.work, f"ann{c}")
        path = os.path.join(root, "index")
        st = {"path": path, "updated": dict(zip(self.ids[upd].tolist(), new)), "deleted": set(self.ids[dele].tolist())}
        self.cycles.append(st)
        inp = lambda name, sel, vecs=None: self._vectors(  # noqa: E731
            os.path.join(root, "inputs", f"{name}.parquet"), self.ids[sel], self.vecs[sel] if vecs is None else vecs
        )
        corpus, arriving, updates = inp("corpus", base), inp("append", app), inp("update", upd, new)
        halves = [inp(f"queries{h}", qsel[h::2]) for h in range(2)]
        deletes = inp("delete", dele).select("vec_id")

        def drop_previous():
            if c >= 1:
                shutil.rmtree(os.path.join(self.work, f"ann{c - 1}"), ignore_errors=True)

        def dedup(name: str) -> Op:
            def run():
                result = self.query(name)
                self.results.setdefault(name, []).append(result)
                return result

            return Op(name, run, rows=lambda r: len(r[1]))

        def query(label: str, queries: DataFrame) -> Op:
            def run():
                rows = similarity.query_ivf_index(queries, path, k=self.K, n_probe=3).collect()
                st.setdefault(label, []).extend(rows)
                return rows

            return Op(f"ann_{label}", run, rows=len)

        def mutate(kind: str, fn, df, rows: int) -> Op:
            return Op(kind, lambda: fn(df, path), rows=lambda _: rows)

        order = rng.permutation(len(self.DEDUP))
        return [dedup(self.DEDUP[i]) for i in order] + [
            Op("ann_build", lambda: similarity.build_ivf_index(corpus, path, n_cells=8, iters=2),
               rows=lambda _: len(base), before=drop_previous),
            mutate("ann_append", similarity.append_to_ivf_index, arriving, n_app),
            *(query("query", q) for q in halves),
            mutate("ann_update", similarity.update_in_ivf_index, updates, k),
            mutate("ann_delete", similarity.delete_from_ivf_index, deletes, k),
            Op("ann_compact", lambda: similarity.compact_ivf_index(self.spark, path), rows=lambda _: 0),
            *(query("query_after", q) for q in halves),
        ]

    def check(self) -> dict[str, bool]:
        con = duck_connection(self.data)
        ok = {"q190_semantic_dedup": all(self.check_query("q190_semantic_dedup", con, *r) for r in self.results["q190_semantic_dedup"])}
        # q35 has no oracle: non-empty, and the same answer every time
        runs = self.results["q35_minhash_lsh"] + [self.query("q35_minhash_lsh")]
        ok["q35_minhash_lsh"] = len(runs[0][1]) > 0 and len({digest(*r) for r in runs}) == 1
        st = self.cycles[-1]
        full = self.N_QUERIES * self.K
        ok["ann_query"] = len(st["query"]) == full
        ok["ann_query_after"] = len(st["query_after"]) == full and not (
            {r["neighbor_id"] for r in st["query_after"]} & st["deleted"]
        )
        # each updated id, queried with its new vector, comes back as its
        # own nearest neighbour at cosine 1 (query ids are negative, so
        # the self-match exclusion does not apply)
        probe = self._vectors(
            os.path.join(os.path.dirname(st["path"]), "inputs", "probe.parquet"),
            [-1 - i for i in range(len(st["updated"]))],
            list(st["updated"].values()),
        )
        top = {
            r["query_id"]: (r["neighbor_id"], r["score"])
            for r in similarity.query_ivf_index(probe, st["path"], k=1, n_probe=3).collect()
        }
        ok["ann_update"] = all(
            top.get(-1 - i, (None, 0.0))[0] == vid and top[-1 - i][1] > 0.99999
            for i, vid in enumerate(st["updated"])
        )
        st["live"] = con.execute(f"SELECT count(*) FROM read_parquet('{st['path']}/*/*.parquet')").fetchone()[0]
        live_ok = st["live"] == len(self.ids) - self.N_CHANGED
        for kind in ("ann_build", "ann_append", "ann_delete", "ann_compact"):
            ok[kind] = live_ok
        return ok

    def stored_bytes_per_row(self) -> float:
        p = self.cycles[-1]["path"]
        return tree_bytes(p, p + "_centroids", p + "_schema", p + "_tombstones", p + "_batches") / self.cycles[-1]["live"]


WORKLOADS = {w.name: w for w in (Dashboard, Etl, DedupAnn)}
