"""Shared fixtures and the query registry for the driver contract.

The contract surface (queries()/oracle_sql()/entry()/warm_caches())
lives in __init__.py; every wave module registers through _q here.
Split out of __spark_entry__.py (round 13).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dftly_spark import Parser
from dftly_spark.io import normalize_event_ts, read_parquet
from dftly_spark.sqlgen import exact_sum, portable_round


def _prep(spark: SparkSession) -> None:
    # Naive timestamps everywhere; comparisons against DuckDB assume UTC.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.timeParserPolicy", "CORRECTED")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        # events.ts has shipped as both TIMESTAMP(NANOS) (readable only as
        # nanos-long, legacy conf set in _prep) and TIMESTAMP(MICROS)
        # (reads as timestamp_ntz); normalize either to plain timestamp.
        df = normalize_event_ts(df)
    if _fanout_active.get():
        df = _fan_out_scan(df, name)
    return df


#: Scan fan-out (guide §2.5 "repartition immediately after the read" for
#: under-split inputs): the testdata parquet files carry ONE row group
#: each, so every expression evaluated in the scan stage runs on <= 1 core
#: per file no matter how many cores the session has.  For the
#: expression-heavy queries below, a hash repartition on the table key
#: right after the read moves the parse/tokenize work above an exchange of
#: the (small) raw bytes and onto every core.  The rule is scale-adaptive,
#: not a local[32] constant: it fires only when the scan's actual split
#: count is below the session's defaultParallelism (at cluster scale a
#: large table yields splits >> cores and the read is returned untouched),
#: and the width is defaultParallelism itself, which tracks
#: SPARK_GRAFT_CPUS through the master URL.  Applied per-query, not
#: globally: the round-14 full-suite A/B measured a uniform extra-exchange
#: tax on the ~150 scan-light queries and pathological losses where the
#: exchange defeats scan-adjacent reuse (x147 +6.3 s, x107 +2.8 s), vs
#: 0.3-1.5 s wins on the queries listed here.  Disable outright with
#: SPARK_DFTLY_SCAN_FANOUT=off.
_FANOUT_KEYS = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "documents": "doc_id",
    "events": "event_id",
    "embeddings": "vec_id",
    "part": "p_partkey",
    "customer": "c_custkey",
}

#: Queries that opt in (chosen by interleaved A/B, OPTIMIZATION_r14.md).
_FANOUT_QUERIES = {
    "q07_casts",
    "q09_duration_units",
    "q15_strptime",
    "q25_iso_week",
    "q28_chrono_residue",
    "q30_chrono_midformat",
    "x02_ngram_jaccard_pairs",
    "x03_minhash_lsh_pairs",
    "x07_text_analysis",
    "x08_fingerprint",
    "x23_json_extract",
    "x14_corpus_clean_pipeline",
    "x28_chunk_text",
    "x51_gopher_rules",
    "x56_ivf_kmeans_topk",
    "x139_dedup_substrings",
    "x147_chrono_locale",
    "x154_pair_quality",
}

#: Plan-build fan-out mode.  A ContextVar (not a module global): concurrent
#: plan builds in one driver each see their own value, and a wrapped builder
#: that invokes another wrapped builder restores the OUTER builder's mode on
#: exit instead of clobbering it to False (round-15, from round-14 advice).
from contextvars import ContextVar

_fanout_active: ContextVar[bool] = ContextVar("dftly_fanout_active", default=False)


def _ckey(sf_dir: str, base: str = "documents") -> str:
    """Session-memo cache key for a corpus, split by fan-out mode.

    Every shared-frame memo (tokenized docs, shingle instances, term
    frames — ops/corpus.py) keyed off a corpus MUST build its key here:
    the fan-out changes the frame under the derivation, so a plan built in
    one mode must never be handed to a query in the other.  Round-14 only
    suffixed the ``_docs_tok`` key; keys passed straight into op
    ``cache_key=`` parameters leaked fanned shingle/term frames into
    non-fan queries (or vice versa) depending on which query ran first.
    """
    suffix = "#fan" if _fanout_active.get() else ""
    return f"{base}:{sf_dir}{suffix}"


def _fan_out_scan(df: DataFrame, name: str) -> DataFrame:
    import os

    if os.environ.get("SPARK_DFTLY_SCAN_FANOUT", "").lower() == "off":
        return df
    key = _FANOUT_KEYS.get(name)
    if key is None:
        return df
    n = df.sparkSession.sparkContext.defaultParallelism
    # NOTE: getNumPartitions() on a fresh scan triggers a file listing at
    # plan-build time — free here (single-file tables, listing is cached
    # per session), but worth a cache if this pattern leaves the contract
    # layer for a real metastore-backed cluster.
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, F.col(key))


#: Per-query session-conf overrides, armed at plan-build time and LEFT SET
#: so they are active when the (serial) runner executes the returned frame
#: — the driver, bench.py and the oracle gate all run build -> action ->
#: build -> action on one thread, and every builder (re)sets every conf in
#: ``_CONF_DEFAULTS``, so each action runs exactly under its own query's
#: arm.  This is the fan-out wrapper's mechanism applied to planner conf:
#: some join-strategy wins are unreachable by per-op hints because the
#: SMJ sits in shared op code whose OTHER consumers measured losses under
#: the same conf (round-14 session-wide A/B: -18.6 s of wins, +12.3 s of
#: losses).  Scale note: ``preferSortMergeJoin=false`` only lets the
#: planner pick shuffled-hash where its size conditions hold, and the AQE
#: threshold converts SMJ->SHJ at runtime only when every post-shuffle
#: partition is under 64 MB — both are size-gated decisions that remain
#: sound off local[32], not local-core-count constants.
_CONF_DEFAULTS: dict[str, str] = {
    "spark.sql.join.preferSortMergeJoin": "true",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "0",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "true",
}

#: The shuffled-hash arm (guide §3.1): planner may choose SHJ when its
#: size conditions are met + AQE rewrites SMJ->SHJ for <=64 MB partitions.
_SHJ_ARM: dict[str, str] = {
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "67108864",
}

#: Queries that opt in to a conf arm (chosen by interleaved A/B,
#: OPTIMIZATION_r15.md).  x107: two independent sf0.1 A/Bs (-0.97 s,
#: -2.7 s) — the arm reaches the build-phase jobs (edge dedup, degree
#: attach, materialized before the partitions derivation) that per-op
#: hints deliberately leave alone.  Candidates measured and REJECTED:
#: x129 +9.5 s, x154 +5.2 s, x04 +0.5 s at sf1.0 (verify-stage hash
#: aggregates lose their sort-based fallback); x46 — its executed plan is
#: IDENTICAL under the arm (the AQE SMJ->SHJ conversion never fires for
#: its cell join), so its small A/B deltas were noise.
_QUERY_CONFS: dict[str, dict[str, str]] = {
    "x107_triangle_count": _SHJ_ARM,
}


def _with_scan_fanout(name: str, fn: Callable) -> Callable:
    """Builder wrapper: arm the fan-out + per-query conf for this build."""
    import functools

    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        import os

        if os.environ.get("SPARK_DFTLY_QUERY_CONFS", "").lower() != "off":
            overrides = _QUERY_CONFS.get(name, {})
            for k, default in _CONF_DEFAULTS.items():
                spark.conf.set(k, overrides.get(k, default))
        token = _fanout_active.set(name in _FANOUT_QUERIES)
        try:
            return fn(spark, sf_dir)
        finally:
            _fanout_active.reset(token)

    return run


_TOK = "__tokens"


def _docs_tok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents table + shared cached token-array column (`__tokens`).

    One tokenization per (session, sf_dir), persisted and reused by the
    whole text-op cluster (x02/x03/x14/x15/x24/x31/x32/x35/x37/x45/x52/x54)
    — the session-scoped analog of writing the tokenized corpus to a
    bucketed table once (ops/corpus.py).  Oracles are unchanged: the cached
    arrays are byte-identical to each op's own tokenization.
    """
    from dftly_spark.ops import tokenized_docs

    # fan-out changes the frame under the tokenizer, so the session memo
    # must not hand a plan built in one mode to a query in the other
    return tokenized_docs(_t(spark, sf_dir, "documents"), cache_key=_ckey(sf_dir))


def _spec_query(table: str, spec: dict[str, str]):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _prep(spark)
        return Parser.select(_t(spark, sf_dir, table), spec)

    return run



def _pq_schema(table: str) -> dict[str, str]:
    """dftly dtype tags for a testdata table, read from the parquet footer
    (no Spark session needed — oracle callables resolve driver-side).

    The oracle API carries no sf_dir, so the dataset is resolved from the
    gate env var, falling back to the bench-wide one, then the driver's
    sf0.01 default.  A runner pairing queries()[name](spark, other_dir)
    with oracle_sql() must export one of these so both sides are typed
    from the SAME parquet footers (regenerated data has flipped dtypes
    between rounds before)."""
    import os
    import pyarrow.parquet as pq

    sf = os.environ.get(
        "SPARK_GRAFT_GATE_SF_DIR",
        os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )
    ar = {"int64": "int64", "int32": "int32", "double": "float64",
          "float": "float32", "string": "str", "large_string": "str",
          "bool": "bool", "date32[day]": "date"}
    out = {}
    for f in pq.read_schema(f"{sf}/{table}.parquet"):
        t = str(f.type)
        out[f.name] = "datetime" if t.startswith("timestamp") else ar.get(t, t)
    return out


def _spec_oracle(table: str, spec: dict[str, str]):
    """Machine-generated DuckDB oracle for a ``_spec_query`` entry: the
    SAME spec the Spark side consumes, emitted through sqlgen — one
    definition per query, no hand-mirrored scalar anywhere (round 7;
    q23's uint-widening spec stays hand-written: DuckDB's HUGEINT
    widening diverges from the engine's documented recast)."""

    def gen() -> str:
        from dftly_spark.sqlgen import spec_to_duckdb_sql

        cols = spec_to_duckdb_sql(spec, _pq_schema(table))
        return (
            "SELECT "
            + ", ".join(f"{sql} AS {name}" for name, sql in cols.items())
            + f" FROM {table}"
        )

    return gen


# ---------------------------------------------------------------------------
# Query definitions: (spark builder, oracle SQL)
# ---------------------------------------------------------------------------

_DEFS: dict[str, tuple[Callable, str | None]] = {}


def _q(name: str, builder: Callable, oracle) -> None:
    """Register a query.  ``oracle`` is an ANSI-SQL string, a zero-arg
    callable returning one (resolved lazily at ``oracle_sql()`` time — for
    oracles whose literals depend on the gate's sf dir, like x56's fitted
    centroids), or None for rows-only checks."""
    _DEFS[name] = (_with_scan_fanout(name, builder), oracle)
