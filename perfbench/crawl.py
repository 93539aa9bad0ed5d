"""crawl_rounds: a CrawlEngine runs scheduling rounds over a growing
URL-seen set, and its last round is redone by a resumed engine.

Round r feeds `benchflow.synthetic_candidates` over an id range that
overlaps round r-1's by half, so about half of every batch is already
seen. The batch spreads over BATCH / 100 hosts (100 URLs per host on
average, as 1M candidates over the default 10,000 hosts), and a
seed-drawn robots table gives each host a crawl delay, so the hot hosts
exceed their politeness budget and every round leaves part of its
frontier for later rounds. Round 0 is the warm-up and belongs to
set-up. The timed rounds run in a closed loop: the next round starts
when the previous one returns. Then a freshly constructed engine, over a
copy of the state as it stood before the last timed round, calls
`resume_round()` and runs that round again; its round metrics must equal
the uninterrupted engine's, and its round time is one more sample of the
round time.
A run reaches a seen set of a few tens of thousands of URLs.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass

from pyspark.sql import functions as F

from ccspark.benchflow import synthetic_candidates
from ccspark.fixtures import make_crawl_fixture
from ccspark.params import CrawlParams
from ccspark.politeness import schedule_frontier
from ccspark.scheduler import CrawlEngine, batch_dedup, canonicalize
from ccspark.seen import with_bucket
from ccspark.tables import SnapshotTable

import inputs
from measure import Outcome, closed_loop, dir_bytes, median
from spans import Tracer, maybe_span, task_skew

#: candidates per round
BATCH = 20_000
#: seen-set hash partitions and bloom bits per partition, sized for the
#: tens of thousands of URLs a run reaches (the engine's defaults are
#: sized for 10^10 URLs)
SEEN_PARTITIONS = 8
BLOOM_BITS = 1 << 17
#: documents in the crawl fixture; only its (empty) discovery join
#: matters here, the candidates come from the batches and the robots
#: table from `inputs.make_robots`
FIXTURE_DOCS = 200
#: warm-up rounds (set-up): round 0 pays the cold start
WARMUP_OPS = 1
#: set-up repetitions of input generation + engine construction
SETUP_REPS = 3
#: tables every round commits (per-layer commit metrics)
TABLES = ("seen", "bloom", "frontier", "scheduled", "candidates", "domains")
#: metric keys excluded from the resume comparison: wall time only
VOLATILE = ("wall_s",)


def per_layer_names() -> list[tuple[str, str]]:
    out = []
    for layer in ("canonicalize", "batch_dedup", "schedule_frontier"):
        out.append((f"{layer}.self_s", "s"))
    out.append(("canonicalize.rows_out", "count"))
    out.append(("batch_dedup.shuffle_write_bytes", "bytes"))
    out.append(("schedule_frontier.shuffle_write_bytes", "bytes"))
    out.append(("schedule_frontier.task_skew", "ratio"))
    out += [("run_round.s", "s"), ("run_round.jobs", "count"),
            ("run_round.tasks", "count"), ("run_round.cpu_busy_frac", "ratio")]
    out += [("seen.dedup_rate", "ratio"), ("seen.total", "count")]
    for t in TABLES:
        out += [(f"commit.{t}.s", "s"), (f"commit.{t}.bytes", "bytes"),
                (f"commit.{t}.files", "count")]
    out += [("resume.restore_s", "s"), ("resume.round_s", "s"),
            ("tables.state_bytes_per_url", "bytes")]
    for layer in ("canonicalize", "batch_dedup", "schedule_frontier",
                  "run_round"):
        out += [(f"{layer}.executor_cpu_s", "s"),
                (f"{layer}.spill_bytes", "bytes")]
    return out


def url_checksum():
    """Order-insensitive checksum of a url column (sum of 31-bit hashes:
    no overflow, and a duplicated row changes it)."""
    return F.sum(F.pmod(F.xxhash64("url"), F.lit(1 << 31)))


@contextmanager
def traced_commits(tracer: Tracer):
    """Open a `commit.<table>` span around every SnapshotTable.commit;
    each commit is the action that runs its lazy upstream."""
    orig = SnapshotTable.commit

    def commit(self, df, round_no, *args, **kwargs):
        with tracer.span(f"commit.{self.name}") as s:
            version = orig(self, df, round_no, *args, **kwargs)
        s.extra["bytes"], s.extra["files"] = dir_bytes(
            os.path.join(self.dir, f"v{version}"))
        return version

    SnapshotTable.commit = commit
    try:
        yield
    finally:
        SnapshotTable.commit = orig


@dataclass
class Resumed:
    """A round redone by a freshly constructed engine."""

    restore_s: float            # engine construction + resume_round()
    round_s: float              # the run_round() call after it
    engine: CrawlEngine
    next_round: int             # the round resume_round() gave

    @property
    def wall_s(self) -> float:
        return self.restore_s + self.round_s


class CrawlRounds:
    def __init__(self, spark, run_dir: str, seed: int, scale: float):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.batch = max(500, int(BATCH * scale))
        self.hosts = inputs.n_hosts(self.batch)
        self.params = CrawlParams(seen_partitions=SEEN_PARTITIONS)
        self.fx: dict[str, str] = {}
        self.state = ""
        self.pre_state = os.path.join(run_dir, "state_pre")

    # -- inputs ----------------------------------------------------------

    def batch_df(self, r: int):
        return synthetic_candidates(
            self.spark, self.batch, n_hosts=self.hosts,
            start=inputs.round_start(self.seed, r, self.batch))

    def make_inputs(self, out_dir: str) -> dict[str, str]:
        """The crawl fixture (documents and seeds) with its robots table
        replaced by one for the synthetic hosts, so their budgets bind."""
        fx = dict(make_crawl_fixture(out_dir, n_docs=FIXTURE_DOCS,
                                     seed=self.seed))
        fx["robots"] = inputs.make_robots(
            os.path.join(out_dir, "synthetic_robots.parquet"), self.seed,
            self.hosts)
        return fx

    def engine(self, state_dir: str, fx: dict[str, str] | None = None
               ) -> CrawlEngine:
        fx = fx or self.fx
        return CrawlEngine(self.spark, state_dir, fx["documents"],
                           fx["seeds"], fx["robots"],
                           params=self.params, bits_per_bucket=BLOOM_BITS)

    def setup(self) -> tuple[float, CrawlEngine]:
        """Input generation + engine construction SETUP_REPS times, each
        into its own directory (the median time counts; the first rep's
        inputs and engine are the ones used), then rounds
        0..WARMUP_OPS-1 as the warm-up; returns (set-up seconds beyond
        session start, the engine)."""
        reps, engines = [], []
        for i in range(SETUP_REPS):
            t0 = time.perf_counter()
            fx = self.make_inputs(os.path.join(self.run_dir, f"inputs{i}"))
            engines.append(self.engine(
                os.path.join(self.run_dir, f"state{i}"), fx))
            reps.append(time.perf_counter() - t0)
            if i == 0:
                self.fx = fx
        eng = engines[0]
        self.state = eng.store.root
        t0 = time.perf_counter()
        for r in range(WARMUP_OPS):
            eng.run_round(r, self.batch_df(r))
        return median(reps) + time.perf_counter() - t0, eng

    def resume(self, k: int, tag: str, tracer: Tracer | None) -> Resumed:
        """A fresh engine over a copy of the pre-round-k state restores
        with `resume_round()` and runs round k."""
        state = os.path.join(self.run_dir, f"state_resume_{tag}")
        shutil.copytree(self.pre_state, state)
        t0 = time.perf_counter()
        with maybe_span(tracer, "resume_round"):
            with maybe_span(tracer, "resume"):
                eng = self.engine(state)
                nxt, _ = eng.resume_round()
            t1 = time.perf_counter()
            with (traced_commits(tracer) if tracer is not None
                  else nullcontext()):
                eng.run_round(k, self.batch_df(k))
        t2 = time.perf_counter()
        if tracer is not None:
            tracer.collect()
        return Resumed(t1 - t0, t2 - t1, eng, nxt)

    # -- the workload ----------------------------------------------------

    def run(self, seconds: float, tracer: Tracer | None,
            overhead: bool = True) -> Outcome:
        """Set-up, timed rounds, the resumed round, checks. Untraced: the
        round times are the timed rounds' and the resumed round's (its
        restore excluded). Traced: every timed round and the resumed round
        carry spans; with `overhead` set the resumed round is also run
        untraced from the same state before and after the traced one, and
        the tracing overhead is traced minus the mean untraced time."""
        out = Outcome()
        setup_extra, eng = self.setup()
        for r in range(WARMUP_OPS):
            out.op(f"round{r}")

        def step(i: int) -> float:
            r = WARMUP_OPS + i
            shutil.rmtree(self.pre_state, ignore_errors=True)
            shutil.copytree(self.state, self.pre_state)
            t0 = time.perf_counter()
            with (traced_commits(tracer) if tracer is not None
                  else nullcontext(),
                  maybe_span(tracer, "run_round")):
                eng.run_round(r, self.batch_df(r))
            took = time.perf_counter() - t0
            out.op(f"round{r}")
            if tracer is not None:
                tracer.collect()
            return took

        timed = closed_loop(step, seconds)
        k = WARMUP_OPS + len(timed) - 1
        seen_total = eng.store.round_metrics()[-1]["seen_total"]
        state_bytes = dir_bytes(self.state)[0]

        resumed = []
        if tracer is None or overhead:
            resumed.append(("resume", self.resume(k, "untraced", None)))
        if tracer is not None:
            resumed.append(("resume_traced", self.resume(k, "traced", tracer)))
            if overhead:
                # a repeat of the round can run faster than the one
                # before it; untraced runs on both sides of the traced
                # one cancel that drift
                resumed.append(("resume_again",
                                self.resume(k, "again", None)))
        for op, _ in resumed:
            out.op(op)

        t0 = time.perf_counter()
        self.check(out, eng, k, resumed, tracer)
        check_s = time.perf_counter() - t0
        resume_s = {op: r.wall_s for op, r in resumed}
        if tracer is None:
            timed.append(resumed[0][1].round_s)
            out.put("setup_s", setup_extra)
            out.put("op_s_p50", median(timed))
        else:
            self.layer_metrics(out, tracer, eng, state_bytes / seen_total,
                               resume_s["resume_traced"])
            if overhead:
                out.put("trace.overhead_s", resume_s["resume_traced"] - (
                    resume_s["resume"] + resume_s["resume_again"]) / 2)
        depths = [m["frontier_depth"] for m in eng.store.round_metrics()]
        out.notes.append(
            f"round_s={[round(t, 3) for t in timed]} "
            f"resume_round_s={ {op: round(t, 3) for op, t in resume_s.items()} } "
            f"seen_total={seen_total} frontier_depth={depths} "
            f"state_bytes_per_url={state_bytes / seen_total:.1f} "
            f"setup_beyond_session_s={setup_extra:.3f} check_s={check_s:.3f}")
        return out

    # -- correctness (outside the timed region) --------------------------

    def check(self, out: Outcome, eng, k: int,
              resumed: list[tuple[str, Resumed]],
              tracer: Tracer | None) -> None:
        m1 = eng.store.round_metrics()
        a = {x: v for x, v in m1[k].items() if x not in VOLATILE}
        for op, res in resumed:
            out.check(op, res.next_round == k,
                      f"resume_round() gave {res.next_round}, want {k}")
            b = {x: v for x, v in res.engine.store.round_metrics()[k].items()
                 if x not in VOLATILE}
            out.check(op, a == b, f"resumed round {b} != uninterrupted {a}")

        # seen_total against an independent distinct count of the
        # canonical URLs fed in (bloom has no false negatives and the
        # exact anti-join backstops its false positives: exact)
        fed = self.batch_df(0)
        for r in range(1, k + 1):
            fed = fed.unionByName(self.batch_df(r))
        want = canonicalize(fed, 0).select("url").distinct().count()
        got = m1[k]["seen_total"]
        out.check(f"round{k}", got == want, f"seen_total {got} != {want}")
        rows = eng.seen.seen_df().count()
        out.check(f"round{k}", rows == want, f"seen table {rows} != {want}")

        # the budget binds: every round leaves part of its frontier
        # unscheduled (else the next check could not fail)
        for m in m1:
            out.check(f"round{m['round']}", m["frontier_depth"] > 0,
                      f"round {m['round']} scheduled its whole frontier")

        # no host scheduled beyond its per-round politeness budget
        p = self.params
        robots = self.spark.read.parquet(self.fx["robots"]).select(
            F.col("host").alias("host_key"), "crawl_delay")
        for op, e in [("round", eng)] + [(op, r.engine) for op, r in resumed]:
            over = (e.scheduled_tbl.read_chain()
                    .groupBy("fetch_round", "host_key").count()
                    .join(robots, "host_key", "left")
                    .withColumn("budget", F.floor(
                        F.lit(p.round_seconds)
                        / F.coalesce("crawl_delay",
                                     F.lit(p.default_crawl_delay))))
                    .filter(F.col("count") > F.col("budget"))
                    .select("fetch_round").distinct().collect())
            for row in over:
                out.fail(f"round{row.fetch_round}" if op == "round" else op,
                         "a host was scheduled beyond its budget")

        # the stateless pipeline over round 0's batch schedules exactly
        # what the stateful round 0 scheduled (count and URL checksum)
        n_sl, sum_sl = self.stateless(tracer)
        sched0 = (eng.scheduled_tbl.read_chain()
                  .filter(F.col("fetch_round") == 0)
                  .agg(F.count(F.lit(1)), url_checksum()).first())
        want0 = m1[0]["scheduled"]
        out.check("round0", n_sl == sched0[0] == want0,
                  f"scheduled: stateless {n_sl}, table {sched0[0]}, "
                  f"round metric {want0}")
        out.check("round0", sum_sl == sched0[1],
                  f"URL checksum: stateless {sum_sl} != stateful {sched0[1]}")

    def stateless(self, tracer: Tracer | None) -> tuple[int, int]:
        """The stateless scheduling pipeline over round 0's batch, composed
        from the stages `benchflow.schedule_pipeline` runs; returns
        (scheduled, order-insensitive URL checksum). The robots table is
        the engine's, not benchflow's empty one, so the budgets are the
        same. Each stage is
        persisted before the next, so each traced span times that layer
        alone."""
        robots = self.spark.read.parquet(self.fx["robots"])
        with maybe_span(tracer, "canonicalize") as s:
            canon = canonicalize(self.batch_df(0), 0).persist()
            rows_out = canon.count()
        with maybe_span(tracer, "batch_dedup"):
            deduped = with_bucket(batch_dedup(canon),
                                  partitions=SEEN_PARTITIONS).persist()
            deduped.count()
        with maybe_span(tracer, "schedule_frontier"):
            row = (schedule_frontier(deduped, robots, self.params)
                   .agg(F.count(F.lit(1)), url_checksum()).first())
        if tracer is not None:
            s.extra["rows_out"] = rows_out
            tracer.collect()
        deduped.unpersist()
        canon.unpersist()
        return row[0], row[1]

    # -- per-layer metrics (traced run) ----------------------------------

    def layer_metrics(self, out: Outcome, tracer: Tracer, eng,
                      state_bytes_per_url: float, resume_s: float) -> None:
        from session import nproc

        for layer in ("canonicalize", "batch_dedup", "schedule_frontier"):
            spans = tracer.named(layer)
            out.put(f"{layer}.self_s", median([s.self_s for s in spans]))
            out.put(f"{layer}.executor_cpu_s",
                    median([s.cpu_s for s in spans]))
            out.put(f"{layer}.spill_bytes",
                    median([s.spill_bytes for s in spans]))
        out.put("canonicalize.rows_out",
                tracer.named("canonicalize")[-1].extra["rows_out"])
        for layer in ("batch_dedup", "schedule_frontier"):
            out.put(f"{layer}.shuffle_write_bytes",
                    median([s.shuffle_write_bytes
                            for s in tracer.named(layer)]))
        out.put("schedule_frontier.task_skew",
                task_skew(tracer.named("schedule_frontier")))

        rounds = tracer.named("run_round")
        out.put("run_round.s", median([s.duration for s in rounds]))
        out.put("run_round.jobs", median([s.total("jobs") for s in rounds]))
        out.put("run_round.tasks", median([s.total("tasks") for s in rounds]))
        out.put("run_round.cpu_busy_frac", median(
            [s.total("run_s") / (s.duration * nproc()) for s in rounds]))
        out.put("run_round.executor_cpu_s",
                median([s.total("cpu_s") for s in rounds]))
        out.put("run_round.spill_bytes",
                median([s.total("spill_bytes") for s in rounds]))
        last = eng.store.round_metrics()[-1]
        out.put("seen.dedup_rate", last["dedup_rate"])
        out.put("seen.total", last["seen_total"])

        for t in TABLES:
            per_round = [[c for c in r.subtree() if c.name == f"commit.{t}"]
                         for r in rounds]
            out.put(f"commit.{t}.s",
                    median([sum(c.duration for c in cs) for cs in per_round]))
            out.put(f"commit.{t}.bytes", median(
                [sum(c.extra["bytes"] for c in cs) for cs in per_round]))
            out.put(f"commit.{t}.files", median(
                [sum(c.extra["files"] for c in cs) for cs in per_round]))
        out.put("resume.restore_s", tracer.named("resume")[0].duration)
        out.put("resume.round_s", resume_s)
        out.put("tables.state_bytes_per_url", state_bytes_per_url)
