"""corpus_pass: a training-data pass over a seed-generated corpus that
calls registry queries by name, one after another.

One pass runs QUERIES in order, each to a complete pandas result: WARC
ingest and HTML-to-spans (`warc`, `htmlspans`), MinHash-LSH near-duplicate
pairs with exact Jaccard (`dedup`), the quality classifier (`textops`)
and embedding dedup over IVF cells (`similarity`). The first pass is the
warm-up and belongs to set-up; timed passes run in a closed loop.
Every timed pass's results are hash-matched against each query's DuckDB
`oracle_sql()` twin after the timed region.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import time

import duckdb
import numpy as np
import pandas as pd

from ccspark.registry import oracle_sql, queries

import inputs
from measure import Outcome, closed_loop, median
from spans import Tracer, maybe_span

QUERIES = ("html_to_spans", "warc_ingest_tag_count", "dedup_minhash_lsh",
           "quality_model", "semantic_dedup")
N_DOCS = 1000
N_VECS = 500
SETUP_REPS = 3
#: warm-up passes (set-up): the first pass pays the cold start
WARMUP_OPS = 1
#: timed passes per run at least (the median of two is their mean)
MIN_OPS = 2


def per_layer_names() -> list[tuple[str, str]]:
    out = [("corpus.pass_s", "s")]
    for q in QUERIES:
        out += [(f"query_s.{q}", "s"),
                (f"query.{q}.shuffle_write_bytes", "bytes"),
                (f"query.{q}.executor_cpu_s", "s"),
                (f"query.{q}.spill_bytes", "bytes")]
    return out


def _cell(v) -> str:
    """One value as text, equal across engines for equal values: nulls
    as \\N, integral numbers as integers, other floats by exact bits."""
    if v is None or v is pd.NA or (isinstance(v, float) and math.isnan(v)):
        return "\\N"
    if isinstance(v, (float, np.floating)):
        v = float(v)
        return str(int(v)) if v.is_integer() and abs(v) < 2 ** 53 else v.hex()
    if isinstance(v, (int, np.integer)) and not isinstance(v, bool):
        return str(int(v))
    return str(v)


def result_digest(df: pd.DataFrame) -> str:
    """Order-insensitive digest of a result's values: columns by name,
    rows sorted."""
    cols = sorted(df.columns)
    rows = sorted("\x1f".join(_cell(v) for v in row)
                  for row in df[cols].itertuples(index=False, name=None))
    blob = "\x1e".join(["\x1f".join(cols)] + rows)
    return hashlib.sha256(blob.encode()).hexdigest()


class CorpusPass:
    def __init__(self, spark, run_dir: str, seed: int, scale: float):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.n_docs = max(100, int(N_DOCS * scale))
        self.n_vecs = max(100, int(N_VECS * scale))
        self.fns = queries()
        self.corpus = ""

    def one_pass(self, tracer: Tracer | None = None) -> dict[str, pd.DataFrame]:
        res = {}
        for q in QUERIES:
            with maybe_span(tracer, f"query.{q}"):
                res[q] = self.fns[q](self.spark, self.corpus).toPandas()
        return res

    def setup(self) -> float:
        """Corpus generation SETUP_REPS times (the median counts), then
        WARMUP_OPS passes as the warm-up; returns seconds beyond session
        start.

        Each rep writes a fresh directory; the archive fixtures the WARC
        queries build from it are keyed by its name, so the name carries
        the run's id."""
        reps = []
        tag = os.path.basename(self.run_dir)
        for i in range(SETUP_REPS):
            t0 = time.perf_counter()
            d = inputs.make_corpus(
                os.path.join(self.run_dir, f"corpus{i}_{tag}"), self.seed,
                self.n_docs, self.n_vecs)
            reps.append(time.perf_counter() - t0)
            if i == 0:
                self.corpus = d
        t0 = time.perf_counter()
        for _ in range(WARMUP_OPS):
            self.one_pass()
        return median(reps) + time.perf_counter() - t0

    def run(self, seconds: float, tracer: Tracer | None,
            overhead: bool = True) -> Outcome:
        """Untraced: set-up, timed passes, checks. Traced: the same with
        spans, the first half of `seconds` untraced when `overhead` is
        set (tracing overhead = traced − untraced pass median), else
        every timed pass traced."""
        out = Outcome()
        setup_extra = self.setup()
        for i in range(WARMUP_OPS):
            out.op(f"warmup{i}")
        results: list[dict[str, pd.DataFrame]] = []

        def step(i: int, traced: bool = False) -> float:
            t0 = time.perf_counter()
            results.append(self.one_pass(tracer if traced else None))
            took = time.perf_counter() - t0
            if traced:
                tracer.collect()
            return took

        untraced = traced = []
        if tracer is None:
            untraced = closed_loop(step, seconds, MIN_OPS)
        elif overhead:
            untraced = closed_loop(step, seconds / 2)
        if tracer is not None:
            traced = closed_loop(lambda i: step(i, True),
                                 seconds / 2 if overhead else seconds)
        timed = untraced + traced

        t0 = time.perf_counter()
        self.check(out, results)
        check_s = time.perf_counter() - t0
        if tracer is None:
            out.put("setup_s", setup_extra)
            out.put("op_s_p50", median(timed))
        else:
            out.put("corpus.pass_s", median(traced))
            if overhead:
                out.put("trace.overhead_s", median(traced) - median(untraced))
            for q in QUERIES:
                spans = tracer.named(f"query.{q}")
                out.put(f"query_s.{q}", median([s.duration for s in spans]))
                for attr, name in (("shuffle_write_bytes",) * 2,
                                   ("cpu_s", "executor_cpu_s"),
                                   ("spill_bytes",) * 2):
                    out.put(f"query.{q}.{name}",
                            median([s.total(attr) for s in spans]))
        out.notes.append(
            f"passes={len(timed)} pass_s={[round(t, 3) for t in timed]} "
            f"docs={self.n_docs} vecs={self.n_vecs} "
            f"setup_beyond_session_s={setup_extra:.3f} check_s={check_s:.3f}")
        return out

    def check(self, out: Outcome, results) -> None:
        """Hash-match every timed pass's query results against DuckDB."""
        sql = oracle_sql()
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                            f"'{self.corpus}/{t}.parquet')")
            want = {q: result_digest(con.execute(sql[q]).df()) for q in QUERIES}
        finally:
            con.close()
        for i, res in enumerate(results):
            for q in QUERIES:
                name = f"pass{i + 1}.{q}"
                out.check(name, result_digest(res[q]) == want[q],
                          "result differs from the DuckDB oracle")

    def cleanup(self) -> None:
        """The WARC queries write their archive fixtures beside the
        package (`fixtures/warc_<corpus dir name>`); remove this run's,
        and `fixtures/` itself when that leaves it empty."""
        from ccspark import warc

        root = os.path.dirname(os.path.dirname(os.path.abspath(warc.__file__)))
        fixtures = os.path.join(root, "fixtures")
        if self.corpus:
            shutil.rmtree(os.path.join(
                fixtures, "warc_" + os.path.basename(self.corpus)),
                ignore_errors=True)
        try:
            os.rmdir(fixtures)
        except OSError:
            pass
