"""The workloads: HIS publish and dedup suite.

Each workload drives the package only through its public functions. It
provides ``MODULES`` (imported inside the set-up clock), ``prepare``
(once, during set-up), ``first_pass`` (the cold pass, in a fixed order),
``warm_pass`` (the same operations in a seed-shuffled order), ``run``
(one operation; it calls ``mark`` when the plan is built and the action
starts) and ``check`` (after the timed window, one verdict per
operation).
"""

from __future__ import annotations

import datetime as dt
import math
import os
from collections import Counter

import duckdb
import numpy as np

STAR_TABLES = ("paciente", "turno", "prestacion", "prestacion_x_turno")


# -- result comparison ------------------------------------------------------

def _cell(v) -> str:
    """Canonical text of one cell, shared by both engines' results."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NULL" if math.isnan(v) else repr(v)
    if isinstance(v, np.generic):
        return _cell(v.item())
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, dt.datetime):
        v = v.replace(tzinfo=None)
        if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def frame_multiset(pdf) -> Counter:
    """Order-insensitive multiset of a pandas frame, columns by name."""
    cols = sorted(pdf.columns)
    series = [pdf[c].tolist() for c in cols]
    return Counter(tuple(_cell(s[i]) for s in series) for i in range(len(pdf)))


def _duck_star(star_tables: dict[str, str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name, path in star_tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM {_scan(path, name)}")
    return con


def _scan(path: str, name: str) -> str:
    if name == "turno":
        return f"read_parquet('{path}/*/*.parquet', hive_partitioning = true)"
    return f"read_parquet('{path}/*.parquet')"


# -- his_publish --------------------------------------------------------------

class HisPublish:
    """The product's write path: extract, transform, atomic 4-table
    publish, each time into a fresh output directory."""

    MODULES = (
        "etl_his_spark.sources.his_synth",
        "etl_his_spark.plans.his_pipeline",
        "etl_his_spark.sources.writers",
    )

    def __init__(self, spark, data_dir: str, run_dir: str, rng):
        self.spark, self.data_dir, self.run_dir = spark, data_dir, run_dir
        self.n = 0

    def prepare(self) -> None:
        from etl_his_spark.sources.his_synth import his_tables_from_testdata

        his_tables_from_testdata(self.spark, self.data_dir)

    def first_pass(self) -> list[str]:
        return ["publish"]

    def warm_pass(self) -> list[str]:
        return ["publish"]

    def run(self, op: str, mark) -> str:
        from etl_his_spark.plans.his_pipeline import run_pipeline
        from etl_his_spark.sources.his_synth import his_tables_from_testdata

        root = os.path.join(self.run_dir, f"publish-{self.n}")
        self.n += 1
        run_pipeline(his_tables_from_testdata(self.spark, self.data_dir), output_root=root)
        return root

    @staticmethod
    def written(root: str) -> tuple[int, float]:
        """Data files and MB under the current publish of ``root``."""
        from etl_his_spark.sources.writers import resolve_current

        files, size = 0, 0
        for dirpath, _, names in os.walk(resolve_current(root)):
            for name in names:
                if not name.startswith(("_", ".")):
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, name))
        return files, size / (1024 * 1024)

    def check(self, results: list[tuple[str, str]]) -> list[str | None]:
        """Row counts, dense ids 1..N, FK closure, a resolving pointer,
        and identical content across every publish of the run."""
        from etl_his_spark.sources.writers import resolve_current, resolve_manifest

        src = duckdb.connect()
        for t in ("orders", "lineitem"):
            src.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data_dir}/{t}.parquet')"
            )
        # one extraction row per order and per work order (line 1-2)
        expect_turno = src.execute(
            "SELECT sum(least(n, 2)) FROM (SELECT l_orderkey, count(*) n "
            "FROM lineitem GROUP BY 1) JOIN orders ON o_orderkey = l_orderkey"
        ).fetchone()[0]
        expect_paciente = src.execute(
            "SELECT count(DISTINCT o_custkey) FROM orders"
        ).fetchone()[0]
        verdicts, reference = [], None
        for _, root in results:
            errors = []
            tables = resolve_manifest(root)
            staging = resolve_current(root)
            if tables is None or sorted(tables) != sorted(STAR_TABLES):
                verdicts.append(f"pointer does not resolve to the 4 tables: {tables}")
                continue
            if not all(
                os.path.isdir(p) and os.path.dirname(p) == staging for p in tables.values()
            ):
                errors.append("manifest paths are not the current staging dir")
            con = _duck_star(tables)
            counts = {}
            for t in STAR_TABLES:
                n, distinct, lo, hi = con.execute(
                    f"SELECT count(*), count(DISTINCT id), min(id), max(id) FROM {t}"
                ).fetchone()
                counts[t] = n
                if not (n > 0 and distinct == n and lo == 1 and hi == n):
                    errors.append(f"{t}.id is not dense 1..{n}: {distinct} {lo} {hi}")
            if counts["turno"] != expect_turno:
                errors.append(f"turno rows {counts['turno']} != {expect_turno}")
            if counts["paciente"] != expect_paciente:
                errors.append(f"paciente rows {counts['paciente']} != {expect_paciente}")
            orphans = con.execute(
                "SELECT (SELECT count(*) FROM turno WHERE paciente_id IS NULL OR "
                "paciente_id NOT IN (SELECT id FROM paciente)),"
                "(SELECT count(*) FROM prestacion_x_turno WHERE turno_id IS NULL OR "
                "turno_id NOT IN (SELECT id FROM turno)),"
                "(SELECT count(*) FROM prestacion_x_turno WHERE prestacion_id IS NULL "
                "OR prestacion_id NOT IN (SELECT id FROM prestacion))"
            ).fetchone()
            if any(orphans):
                errors.append(f"FK orphans turno/bridge/prestacion: {orphans}")
            content = tuple(
                con.execute(f"SELECT count(*), sum(hash(t)) FROM {t} t").fetchone()
                for t in STAR_TABLES
            )
            reference = reference or content
            if content != reference:
                errors.append("content differs from the run's first publish")
            con.close()
            verdicts.append("; ".join(errors) or None)
        src.close()
        return verdicts


# -- dedup_suite --------------------------------------------------------------

DEDUP_QUERIES = ["dedup_lsh_eval", "dedup_snapshot_incremental"]


class DedupSuite:
    """Registry queries of the dedup family, each checked against its
    registered DuckDB oracle."""

    MODULES = ("etl_his_spark.registry",)

    def __init__(self, spark, data_dir: str, run_dir: str, rng):
        self.spark, self.data_dir, self.rng = spark, data_dir, rng

    def prepare(self) -> None:
        from etl_his_spark import registry

        self.queries = {name: registry.QUERIES[name] for name in DEDUP_QUERIES}
        self.spark.read.parquet(f"{self.data_dir}/documents.parquet").schema

    def first_pass(self) -> list[str]:
        return list(DEDUP_QUERIES)

    def warm_pass(self) -> list[str]:
        return [DEDUP_QUERIES[int(i)] for i in self.rng.permutation(len(DEDUP_QUERIES))]

    def run(self, op: str, mark):
        df = self.queries[op](self.spark, self.data_dir)
        mark()
        return df.toPandas()

    def check(self, results) -> list[str | None]:
        """Each result's multiset equals its registry oracle's."""
        from etl_his_spark import registry

        con = duckdb.connect()
        for f in sorted(os.listdir(self.data_dir)):
            con.execute(
                f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM "
                f"read_parquet('{self.data_dir}/{f}')"
            )
        expected: dict[str, tuple[list[str], Counter]] = {}
        verdicts = []
        for name, pdf in results:
            if name not in expected:
                oracle = con.execute(registry.ORACLES[name]).fetch_df()
                expected[name] = (sorted(oracle.columns), frame_multiset(oracle))
            cols, rows = expected[name]
            if sorted(pdf.columns) != cols:
                verdicts.append(f"{name}: columns {sorted(pdf.columns)} != {cols}")
            elif frame_multiset(pdf) != rows:
                verdicts.append(f"{name}: rows differ from the oracle")
            else:
                verdicts.append(None)
        con.close()
        return verdicts
