"""Correctness check: each query's output against its DuckDB oracle.

Both sides go through ``scripts/driver_gate.py``'s ``canon`` and are compared
as the gate compares them: row count, column names and the sum of
``pd.util.hash_pandas_object`` row hashes.  The oracle side depends only on the
dataset and the oracle's SQL text, so its digest is computed once per
(dataset, SQL) and kept in ``oracle.json`` beside the data.  The Spark side is
collected (Arrow-batched) on every run, outside the timed region.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os

import duckdb
import pandas as pd

from datagen import TABLES


def load_gate(root: str):
    """The repository's ``scripts/driver_gate.py`` as a module."""
    spec = importlib.util.spec_from_file_location(
        "driver_gate", os.path.join(root, "scripts", "driver_gate.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Oracle:
    """Cached oracle digests of one dataset, and the comparison."""

    def __init__(self, root: str, sf_dir: str, tmp_dir: str):
        self._canon = load_gate(root).canon
        self.sf_dir = sf_dir
        self._tmp_dir = tmp_dir
        self._path = os.path.join(sf_dir, "oracle.json")
        self._cache: dict[str, dict] = {}
        if os.path.exists(self._path):
            with open(self._path) as f:
                self._cache = json.load(f)

    def digest(self, df: pd.DataFrame) -> dict:
        c = self._canon(df)
        return {
            "rows": len(c),
            "cols": list(c.columns),
            "hash": int(pd.util.hash_pandas_object(c, index=False).sum()),
        }

    def expected(self, entry, queries) -> dict[str, dict]:
        """Oracle digests of ``queries``, computing (and caching) any whose
        SQL is new.  ``entry`` is the imported contract; the gate variable
        must point at this dataset so the oracle SQL is typed from it."""
        os.environ["SPARK_GRAFT_GATE_SF_DIR"] = self.sf_dir
        sql = entry.oracle_sql()
        out, con = {}, None
        for q in queries:
            key = hashlib.sha256(sql[q].encode()).hexdigest()
            hit = self._cache.get(q)
            if hit is None or hit["sql"] != key:
                if con is None:
                    con = duckdb.connect(config={"temp_directory": self._tmp_dir})
                    for t in TABLES:
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
                hit = {"sql": key, **self.digest(con.execute(sql[q]).df())}
                self._cache[q] = hit
                tmp = self._path + ".tmp"
                with open(tmp, "w") as f:
                    json.dump(self._cache, f)
                os.replace(tmp, self._path)
            out[q] = hit
        if con is not None:
            con.close()
        return out

    def check(self, spark, entry, cases: dict[str, str], frames: dict) -> dict[str, str]:
        """Per case (``cases`` maps it to its query) ``ok``, ``mismatch: ...``
        or ``error: ...``; ``frames`` holds each case's built DataFrame
        (none when every build failed)."""
        expected = self.expected(entry, sorted(set(cases.values())))
        verdicts = {}
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
        try:
            for case, q in cases.items():
                if case not in frames:
                    verdicts[case] = "error: no execution succeeded"
                    continue
                try:
                    got = self.digest(frames[case].toPandas())
                except Exception as e:  # noqa: BLE001 - reported as the case's verdict
                    verdicts[case] = f"error: {type(e).__name__}: {str(e)[:200]}"
                    continue
                want = expected[q]
                bad = [k for k in ("rows", "cols", "hash") if got[k] != want[k]]
                verdicts[case] = "ok" if not bad else (
                    "mismatch: " + ", ".join(f"{k} {got[k]} != {want[k]}" for k in bad))
        finally:
            spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
        return verdicts
