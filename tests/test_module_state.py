"""The package keeps no DataFrame state between calls: a query's
storage lives only as long as the plan that reads it, so two runs in
one session cannot interfere and nothing accumulates."""

from __future__ import annotations

import importlib
import pkgutil

from pyspark.sql import DataFrame

import firefly_vcut_spark
from firefly_vcut_spark.plans import all_queries


def _holds_frame(value: object) -> bool:
    if isinstance(value, DataFrame):
        return True
    if isinstance(value, dict):
        value = list(value.values())
    if isinstance(value, (list, tuple, set, frozenset)):
        return any(isinstance(v, DataFrame) for v in value)
    return False


def _module_frames() -> list[str]:
    found = []
    for info in pkgutil.walk_packages(
        firefly_vcut_spark.__path__, "firefly_vcut_spark."
    ):
        mod = importlib.import_module(info.name)
        for attr, value in vars(mod).items():
            if _holds_frame(value):
                found.append(f"{info.name}.{attr}")
    return found


def test_no_module_level_dataframe_state(spark, sf_dir):
    """Neither at import nor after running the queries whose builders
    used to park caches in module-level lists, and the session holds
    no new stored RDD or table once their results are gone."""
    from firefly_vcut_spark.operators.graph import pagerank_quantized

    assert _module_frames() == []
    sc = spark.sparkContext
    rdds_before = set(sc._jsc.getPersistentRDDs().keys())
    tables_before = {t.name for t in spark.catalog.listTables()}

    qs = all_queries()
    results = [
        qs[name].fn(spark, sf_dir)
        for name in (
            "search_bm25_topk",
            "text_unigram_piece_scores",
            "corpus_dsir_select",
        )
    ]
    edges = spark.createDataFrame(
        [(i, (i + 1) % 12) for i in range(12)], ["u", "v"]
    )
    results.append(pagerank_quantized(edges, iters=3, local_threshold=0))
    for df in results:
        assert df.collect()
    del results, df

    assert _module_frames() == []
    assert set(sc._jsc.getPersistentRDDs().keys()) == rdds_before
    assert {t.name for t in spark.catalog.listTables()} == tables_before
