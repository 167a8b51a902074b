"""Every registry query vs its DuckDB oracle — the local mirror of the
driver's t2 correctness gate, run at sf0.001 for speed.

The sweep executes ONCE per session on the shared thread pool
(tests/sweep_util.py — guide §2.6 job overlap; the per-query walls at
sf0.001 are fixed job-launch latency, so overlapping them reclaims the
idle cores and keeps the suite inside the driver's verify window).
Each parametrized test re-raises its query's captured failure, so
per-query reporting and ``-x`` semantics are unchanged and EVERY query
is still value-checked in the default run — nothing is deselected,
memoized across runs, or weakened."""

from __future__ import annotations

import os

import pytest

from firefly_vcut_spark.oracle import compare
from firefly_vcut_spark.plans import all_queries
from tests.sweep_util import run_pooled

QUERIES = all_queries()


# Where the non-empty gate escalates when a query is empty at the
# sweep scale: a query may thin out at sf0.001, but it must produce
# rows at the driver's sf0.01 gate unless tagged "may-be-empty"
# (r9 verdict: agg_incremental_join_mv hash-"passed" for two rounds
# because BOTH engines returned 0 rows — ∅ = ∅ proves nothing).
_SPOT_SF_DIR = os.environ.get(
    "SPARK_GRAFT_GATE_SF_DIR", "/root/testdata/sf0.01"
)


def _assert_nonempty(spark, sf_dir, name, q, rows: int) -> None:
    if rows > 0 or "may-be-empty" in q.tags:
        return
    # escalate to the driver-gate scale — and for SQL-backed queries
    # re-run the FULL value comparison there, so the non-empty result
    # is oracle-checked too (the sf0.001 compare above ran ∅ = ∅; a
    # rows-only count here would leave value parity unproven in-suite,
    # resting solely on the out-of-band driver gate — r10 ADVICE).
    if q.sql is not None:
        spot_res = compare(name, spark, _SPOT_SF_DIR, q.fn, q.sql)
        assert spot_res.ok, f"{name} (sf0.01 escalation): {spot_res.detail}"
        spot = spot_res.spark_rows
    else:
        spot = q.fn(spark, _SPOT_SF_DIR).count()
    assert spot > 0, (
        f"{name}: 0 rows at {sf_dir} AND at the sf0.01 driver gate — "
        f"a vacuous query hash-passes against a vacuous oracle; fix "
        f"the predicate ranges or tag it 'may-be-empty'"
    )


def _check_one(spark, sf_dir: str, name: str) -> None:
    q = QUERIES[name]
    if q.sql is None:
        n = q.fn(spark, sf_dir).count()  # rows-only check, mirrors the driver
        _assert_nonempty(spark, sf_dir, name, q, n)
        return
    res = compare(name, spark, sf_dir, q.fn, q.sql)
    assert res.ok, f"{name}: {res.detail}"
    _assert_nonempty(spark, sf_dir, name, q, res.spark_rows)


@pytest.fixture(scope="session")
def sweep_results(spark, sf_dir) -> dict[str, object]:
    """name -> None (pass) or the captured exception, from one
    thread-pooled pass over the whole registry."""
    return run_pooled(
        sorted(QUERIES), lambda name: _check_one(spark, sf_dir, name)
    )


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(sweep_results, name):
    err = sweep_results[name]
    if err is not None:
        raise err


def _family(name: str) -> str:
    """Query-family bucket for first-50 coverage (driver truncation
    insurance — registry._FRONT50)."""
    if name.startswith("t_"):
        return "temporal_join"
    if name.startswith("p_queue"):
        return "p"
    if name.startswith("w_"):
        return "stream_window"
    if name.startswith(("w1", "w2")):
        return name[:2]
    for fam in ("corpus", "dedup", "ann", "text", "mm", "agg", "win", "st", "set", "fjson"):
        if name.startswith(fam + "_"):
            return fam
    return name.split("_")[0].rstrip("0123456789")


def test_every_family_represented_or_fully_driver_recorded():
    """The driver records only the first 50 registry entries. A query
    family may be absent from that window ONLY if every one of its
    members is already green in a committed driver record
    (CORRECTNESS_r*.json) — so the window can rotate onto
    never-recorded names without truncation ever hiding a family the
    driver has NEVER checked. (r9: the earlier strict form — every
    family in every window — would burn 16 of 50 slots on anchors for
    fully-recorded families and push full driver coverage past r10.)"""
    import glob
    import json
    import os

    names = list(QUERIES)
    first50 = {_family(n) for n in names[:50]}
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ever_green: set[str] = set()
    for f in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        for name, rec in json.load(open(f)).items():
            if rec.get("rows_match") and rec.get("err") is None:
                ever_green.add(name)
    missing = [
        n
        for n in names
        if _family(n) not in first50 and n not in ever_green
    ]
    assert not missing, (
        f"queries in families outside the first-50 window that have "
        f"never been driver-recorded green: {missing}"
    )


def test_all_queries_have_unique_output_columns(spark, sf_dir):
    for name, q in QUERIES.items():
        cols = q.fn(spark, sf_dir).columns
        assert len(cols) == len(set(cols)), f"{name}: duplicate output columns {cols}"


def test_no_query_ships_decimal_or_temporal_columns(spark, sf_dir):
    """The driver's value-hash surface is {BIGINT, DOUBLE, VARCHAR}
    (registry docstring; kmeans_sql casts its decimal centroids to
    VARCHAR for exactly this reason). A query whose OUTPUT schema
    carries Decimal/Timestamp/Date hash-mismatches even when every
    value is bit-identical to the oracle — that is how win_cusum_drift
    earned its only r9 driver FAIL. Schema-only: builds the plan,
    never executes it. Recurses into arrays/structs/maps so a nested
    decimal can't hide either."""
    from pyspark.sql import types as T

    banned = (T.DecimalType, T.TimestampType, T.TimestampNTZType, T.DateType)

    def walk(dt, path):
        if isinstance(dt, banned):
            yield path, dt
        elif isinstance(dt, T.ArrayType):
            yield from walk(dt.elementType, path + "[]")
        elif isinstance(dt, T.MapType):
            yield from walk(dt.keyType, path + ".key")
            yield from walk(dt.valueType, path + ".value")
        elif isinstance(dt, T.StructType):
            for f in dt.fields:
                yield from walk(f.dataType, f"{path}.{f.name}")

    offenders = [
        (name, path, str(dt))
        for name, q in QUERIES.items()
        for f in q.fn(spark, sf_dir).schema.fields
        for path, dt in walk(f.dataType, f.name)
    ]
    assert not offenders, (
        f"query output columns off the driver hash surface "
        f"(cast to BIGINT/DOUBLE/VARCHAR at the query boundary): {offenders}"
    )
