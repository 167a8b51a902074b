"""The benchmark's workloads.

Each workload has the same shape:

- ``setup()``: inputs and warehouse bootstrap (counted in ``setup_s``);
- ``prepare(i)``: the seeded input of op ``i`` (untimed);
- ``op(i, inp)``: the measured call into firefly_vcut_spark;
- ``observe(i, inp, out)``: state the checks need, read right after the
  op (untimed, outside the measured window);
- ``check(records)``: after the window, the reason each op failed its
  check (ops absent from the result passed).

References are computed only in ``check``, so neither the measured window
nor ``setup_s`` contains them. ``corrupt`` plants a wrong reference, which
the self-test uses to show that the checks can fail.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from firefly_vcut_spark import oracle, pipeline
from firefly_vcut_spark.operators import fuzzy
from firefly_vcut_spark.plans import all_queries
from firefly_vcut_spark.sources import fixtures as fx
from firefly_vcut_spark.sources.catalog import table_path
from spans import median_of
from tests.fuzz_port import best_match, dp_indel_ratio

THRESHOLD = fuzzy.DEFAULT_THRESHOLD


@dataclass
class Context:
    spark: object
    tracer: object
    seed: int
    run_dir: str
    data_root: str
    tiny: bool
    corrupt: bool

    def rng(self, *keys: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, *keys])


def _documents(sf_dir: str) -> dict[int, str]:
    t = pq.read_table(table_path(sf_dir, "documents"), columns=["doc_id", "text"])
    return dict(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))


def _valid_songs(songs_pdf) -> list[tuple[int, str]]:
    return [
        (int(sid), lyr)
        for sid, lyr in zip(songs_pdf["song_id"], songs_pdf["lyrics_fragment"])
        if lyr
    ]


def _reference(lyrics: str, pages: list[list[dict]]) -> tuple[int, int, float] | None:
    """(start, page, score) of the expected occurrence, or None when the
    best window scores under the threshold (tests/fuzz_port.py)."""
    best = best_match(lyrics, pages, dp_indel_ratio)
    if best is None or best[0] < THRESHOLD:
        return None
    return int(best[1]), int(best[2]), best[0]


class CronTick:
    """One ``pipeline.run_pipeline`` tick over a fresh seeded batch of new
    archives: discovered, streamed, transcribed and scanned in that tick."""

    name = "cron_tick"

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.sf = os.path.join(ctx.data_root, "sf0.001")
        self.wh_dir = os.path.join(ctx.run_dir, "warehouse")
        self.batch = 4 if ctx.tiny else 20
        # the bootstrap tick in setup() is the first, coldest warm-up tick
        self.warmup_ops = 0 if ctx.tiny else 1
        self.bootstrap_s = 0.0

    def setup(self) -> None:
        spark = self.ctx.spark
        t0 = time.perf_counter()
        pipeline.run_pipeline(spark, self.sf, self.wh_dir, stream_limit=self.batch)
        self.bootstrap_s = time.perf_counter() - t0
        archives = fx.archives(spark, self.sf)
        self.schema = archives.schema
        self.base = [tuple(r) for r in archives.orderBy("id").collect()]
        self.max_pubdate = max(r[self.schema.names.index("pubdate")] for r in self.base)
        self.docs = _documents(self.sf)
        self.songs = _valid_songs(fx.songs(spark, self.sf).toPandas())

    def prepare(self, i: int):
        rng = self.ctx.rng(i)
        names = self.schema.names
        picks = rng.choice(len(self.base), size=self.batch, replace=False)
        ids = (i + 1) * 1_000_000 + rng.choice(1_000_000, size=self.batch, replace=False)
        rows = []
        for n, (pick, new_id) in enumerate(zip(picks, ids)):
            row = dict(zip(names, self.base[pick]))
            row.update(
                id=int(new_id),
                bvid=f"BVpb{int(new_id):010d}",
                pubdate=self.max_pubdate + (i + 1) * 86_400 + n,
                audio_object_keys=None,
                transcript_object_key=None,
                last_song_occurrence_scan=None,
            )
            rows.append(tuple(row[c] for c in names))
        return [int(x) for x in ids], self.ctx.spark.createDataFrame(rows, self.schema)

    def op(self, i: int, inp):
        _ids, incoming = inp
        return pipeline.run_pipeline(
            self.ctx.spark, self.sf, self.wh_dir, incoming=incoming, stream_limit=self.batch
        )

    def observe(self, i: int, inp, report) -> dict:
        archives = pipeline.Warehouse(self.ctx.spark, self.wh_dir).read("archives")
        unscanned = archives.filter(
            F.col("transcript_object_key").isNotNull()
            & F.col("last_song_occurrence_scan").isNull()
        ).count()
        return {"report": report, "unscanned": unscanned}

    def _pages(self, archive_id: int) -> list[list[dict]]:
        """The transcript the stub transcriber makes for ``archive_id``."""
        words = self.docs[archive_id % len(self.docs)].split(" ")
        w, per_page = pipeline.WORDS_PER_SEG, pipeline.SEGS_PER_PAGE
        pages: list[list[dict]] = []
        for g in range((len(words) - 1) // w + 1):
            if g % per_page == 0:
                pages.append([])
            pages[-1].append({"start": float(g * w), "text": " ".join(words[g * w : (g + 1) * w])})
        return pages

    def check(self, records) -> dict[int, str]:
        all_ids = [a for r in records for a in r.inp[0]]
        occ = (
            pipeline.Warehouse(self.ctx.spark, self.wh_dir)
            .read("occurrences")
            .filter(F.col("archive_id").isin(all_ids))
            .select("song_id", "archive_id", "start", "page")
            .collect()
        )
        found = {(r.song_id, r.archive_id, r.start, r.page) for r in occ}
        failures = {}
        for r in records:
            rep = r.obs["report"]
            counts = (rep.discovered, rep.streamed, rep.transcribed)
            if counts != (self.batch,) * 3:
                failures[r.i] = f"stage counts {counts} != batch {self.batch}"
                continue
            if r.obs["unscanned"]:
                failures[r.i] = f"{r.obs['unscanned']} archives left needing a scan"
                continue
            sample = self.ctx.rng(r.i, 1).choice(r.inp[0], size=2, replace=False)
            for aid in (int(a) for a in sample):
                pages = self._pages(aid)
                want = set()
                for song_id, lyrics in self.songs:
                    ref = _reference(lyrics, pages)
                    if ref is not None:
                        want.add((song_id, aid, ref[0], ref[1]))
                if self.ctx.corrupt:
                    want.add((-1, aid, 0, 1))
                got = {row for row in found if row[1] == aid}
                if got != want:
                    failures[r.i] = f"archive {aid}: occurrences {sorted(got)} != {sorted(want)}"
                    break
        return failures

    def trace_metrics(self, traced) -> dict[str, float]:
        written = median_of([s for _r, s in traced], "snapshots.write.bytes")
        return {"pipeline.bootstrap_s": self.bootstrap_s, "snapshots.bytes_per_archive": written / self.batch}


class HeadlineQueries:
    """One pass over registry queries from the ``bench`` headline set, in
    a seeded order: ``q.fn(spark, sf)`` then ``.count()`` for each."""

    name = "headline_queries"
    QUERIES = (
        "ann_bruteforce_topk",
        "q1_pricing_summary",
        "q3_order_revenue",
        "text_tfidf_topterms",
    )

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.sf = os.path.join(ctx.data_root, "sf0.001" if ctx.tiny else "sf0.1")
        self.names = self.QUERIES[:3] if ctx.tiny else self.QUERIES
        self.warmup_ops = 0 if ctx.tiny else 6

    def setup(self) -> None:
        self.queries = {n: all_queries()[n] for n in self.names}

    def prepare(self, i: int) -> list[str]:
        order = list(self.names)
        random.Random(f"{self.ctx.seed}-{i}").shuffle(order)
        return order

    def op(self, i: int, order: list[str]) -> dict[str, int]:
        counts = {}
        tracer, spark = self.ctx.tracer, self.ctx.spark
        for name in order:
            with tracer.span(f"query.{name}.build"):
                df = self.queries[name].fn(spark, self.sf)
            with tracer.span(f"query.{name}.exec"):
                counts[name] = df.count()
        return counts

    def observe(self, i: int, inp, counts) -> None:
        return None

    def check(self, records) -> dict[int, str]:
        spark = self.ctx.spark
        expected, last_ok = {}, {}
        for name, q in self.queries.items():
            if q.sql is None:
                expected[name] = records[0].out[name]
                last_ok[name] = "ok"
                continue
            res = oracle.compare(name, spark, self.sf, q.fn, q.sql)
            expected[name] = res.oracle_rows + (1 if self.ctx.corrupt else 0)
            last_ok[name] = "ok" if res.ok else res.detail
        failures = {}
        for r in records:
            bad = {n: (c, expected[n]) for n, c in r.out.items() if c != expected[n]}
            if bad:
                failures[r.i] = f"row counts (got, expected): {bad}"
        last = records[-1].i if records else None
        wrong = {n: d for n, d in last_ok.items() if d != "ok"}
        if wrong and last is not None:
            failures[last] = f"oracle mismatch: {wrong}"
        return failures

    def trace_metrics(self, traced) -> dict[str, float]:
        return {}


WORKLOADS = {w.name: w for w in (CronTick, HeadlineQueries)}
