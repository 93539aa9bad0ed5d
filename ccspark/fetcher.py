"""Production HTTP fetch executor — the mapInPandas swap-in for fetchsim.

The reference fetches with a 100-thread pool and a global inter-fetch
gate (ProcessingService.java:44-49,329-388). The Spark restatement runs
the fetch INSIDE the scheduled partitions: rows arrive already grouped
and budgeted per host and stamped with a per-host start offset, both
from one rank (politeness.schedule_frontier), so each partition replays
its hosts' offsets locally — no cross-executor coordination, which is
what lets the stage scale to 1000 executors.

Output schema is IDENTICAL to fetchsim.with_fetch_sim (fetch_key,
status, content_type, content_length, latency_ms, fetch_id), so
CrawlEngine swaps transports without touching any downstream plan:

    eng = CrawlEngine(..., )            # fetch-sim (default, oracle-checked)
    fetched = fetch_http(sched)         # production (network required)

The sandbox has no network, so the unit tests drive fetch_http with a
mock transport; the default transport is urllib (stdlib — requests is
not a dependency).
"""

from __future__ import annotations

import hashlib
import time
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

#: (url, timeout_s) -> (status:int, content_type:str, content_length:int)
Transport = Callable[[str, float], tuple[int, str, int]]

FETCH_SCHEMA_APPEND = [
    T.StructField("fetch_key", T.LongType()),
    T.StructField("status", T.IntegerType()),
    T.StructField("content_type", T.StringType()),
    T.StructField("content_length", T.IntegerType()),
    T.StructField("latency_ms", T.IntegerType()),
    T.StructField("fetch_id", T.StringType()),
]


def urllib_transport(url: str, timeout_s: float) -> tuple[int, str, int]:
    """Default stdlib transport: HEAD-less GET, body discarded after
    length is known (the reference also downloads then sizes —
    ProcessingService.java:329-355)."""
    import urllib.error
    import urllib.request
    try:
        req = urllib.request.Request(url, headers={"User-Agent": "ccspark/0.1"})
        with urllib.request.urlopen(req, timeout=timeout_s) as resp:
            body = resp.read()
            ctype = resp.headers.get("Content-Type", "") or ""
            return int(resp.status), ctype.split(";")[0].strip(), len(body)
    except urllib.error.HTTPError as e:
        return int(e.code), "", 0
    except Exception:
        return 0, "", 0   # network failure sentinel (never raises)


def parse_robots_txt(body: str, user_agent: str = "*") \
        -> tuple[list[str], list[str], float | None]:
    """(disallow rules, allow rules, crawl_delay) for the matching agent
    group.

    Deterministic robots.txt grammar: User-agent groups, Disallow/Allow
    rule lines (RFC 9309 §2.2.2 — rules may contain '*' wildcards and a
    trailing '$' end-anchor; matching/precedence happens downstream in
    politeness.with_robots_blocked_flag and the pure-Python oracle),
    Crawl-delay seconds; empty Disallow = allow-all line. Group
    selection follows RFC 9309 §2.2.1 longest-match: among groups whose
    agent token is a case-insensitive PREFIX of our user-agent
    ('Googlebot' matches UA 'googlebot-images'), the longest token wins;
    the '*' group applies only when no named group matches. (The
    reference has no robots handling at all — U12 is the north_rule's
    addition; this parser feeds the same cache schema the scheduler's
    admission/budget joins consume.)"""
    groups: dict[str, tuple[list[str], list[str], float | None]] = {}
    agents: list[str] = []
    collecting_agents = True
    for raw in body.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key, val = key.strip().lower(), val.strip()
        if key == "user-agent":
            if not collecting_agents:
                agents = []
            collecting_agents = True
            agents.append(val.lower())
            for a in agents:
                groups.setdefault(a, ([], [], None))
        elif key in ("disallow", "allow", "crawl-delay"):
            collecting_agents = False
            for a in agents:
                dis, alw, delay = groups.setdefault(a, ([], [], None))
                if key == "disallow":
                    if val:
                        dis.append(val)
                elif key == "allow":
                    if val:
                        alw.append(val)
                else:
                    try:
                        delay = float(val)
                    except ValueError:
                        pass
                groups[a] = (dis, alw, delay)
    ua = user_agent.lower()
    named = [g for g in groups if g != "*" and ua.startswith(g)]
    if named:
        return groups[max(named, key=len)]
    if "*" in groups:
        return groups["*"]
    return [], [], None


def fetch_robots(hosts: DataFrame,
                 transport: Callable[[str, float], tuple[int, str]] | None = None,
                 timeout_s: float = 10.0, fetched_at_ms: int = 0,
                 user_agent: str = "ccspark",
                 default_delay: float = 0.15) -> DataFrame:
    """Build the robots cache table from live robots.txt fetches — the
    production producer for the (host, crawl_delay, disallow, fetched_at)
    cache the scheduler's U12 admission/budget joins consume.

    hosts: DataFrame with a host_key column (one fetch per DISTINCT
    host). transport: (url, timeout) -> (status, body); defaults to a
    urllib GET capped at 512 KB (RFC 9309 §2.5 requires parsing at
    least 500 KiB; an unbounded read would let a redirect to a huge
    page stall the cache build). https:// is tried first with an
    http:// fallback on unreachability (status 0) — an https 4xx/5xx
    is an authoritative robots answer and does NOT fall back.
    fetched_at_ms is an explicit parameter (never wall clock) so cache
    builds stay reproducible. A 4xx/5xx/unreachable robots.txt yields
    the permissive default (no disallow, default crawl delay) — the
    same semantics the scheduler applies to hosts absent from the
    cache."""
    import pandas as pd  # noqa: F811

    if transport is None:
        def transport(url: str, t: float) -> tuple[int, str]:
            import urllib.request
            try:
                with urllib.request.urlopen(
                        urllib.request.Request(
                            url, headers={"User-Agent": user_agent}),
                        timeout=t) as resp:
                    body = resp.read(512 * 1024)
                    return int(resp.status), body.decode("utf-8", "replace")
            except Exception:
                return 0, ""

    schema = T.StructType([
        T.StructField("host", T.StringType()),
        T.StructField("crawl_delay", T.DoubleType()),
        T.StructField("disallow", T.ArrayType(T.StringType())),
        T.StructField("allow", T.ArrayType(T.StringType())),
        T.StructField("fetched_at", T.TimestampType()),
    ])
    ts = pd.Timestamp(fetched_at_ms, unit="ms")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"host": [], "crawl_delay": [], "disallow": [],
                    "allow": [], "fetched_at": []}
            for host in pdf["host_key"]:
                status, body = 0, ""
                for scheme in ("https", "http"):
                    status, body = transport(
                        f"{scheme}://{host}/robots.txt", timeout_s)
                    if status != 0:   # reachable: answer is authoritative
                        break
                dis, alw, delay = (parse_robots_txt(body, user_agent)
                                   if status == 200 else ([], [], None))
                rows["host"].append(host)
                rows["crawl_delay"].append(
                    delay if delay is not None else default_delay)
                rows["disallow"].append(dis)
                rows["allow"].append(alw)
                rows["fetched_at"].append(ts)
            yield pd.DataFrame(rows)

    return (hosts.select("host_key").distinct()
            .mapInPandas(run, schema))


def fetch_http(scheduled: DataFrame, transport: Transport = urllib_transport,
               timeout_s: float = 10.0,
               respect_offsets: bool = True) -> DataFrame:
    """Fetch each scheduled row over HTTP inside mapInPandas.

    respect_offsets: honor the deterministic fetch_offset_ms stamps —
    rows are sorted by offset inside each partition (JVM-side
    sortWithinPartitions, so unsorted arrival can't reorder issue
    times), each partition sleeps until a row's offset relative to the
    partition's own start, AND a per-host last-issue floor guarantees
    that falling behind schedule (slow fetches) never compresses two
    same-host issues closer than the schedule's encoded gap: the next
    issue waits for max(schedule offset, last_issue[host] + the
    offset delta the schedule assigned between the two rows). The
    scheduler routes a host's rows into one partition via the host_key
    shuffle, so local replay enforces the budget globally."""
    clock, sleep = time.monotonic, time.sleep
    fields = [f for f in scheduled.schema.fields
              if f.name not in {x.name for x in FETCH_SCHEMA_APPEND}]
    out_schema = T.StructType(fields + FETCH_SCHEMA_APPEND)
    names = [f.name for f in fields]
    if respect_offsets and "fetch_offset_ms" in scheduled.columns:
        scheduled = scheduled.sortWithinPartitions("fetch_offset_ms")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        t0 = None   # anchored to the FIRST row processed, not generator
        last_issue: dict = {}   # host -> (issue time, its schedule offset s)
        for pdf in batches:
            if t0 is None:
                t0 = clock()
            res = {"fetch_key": [], "status": [], "content_type": [],
                   "content_length": [], "latency_ms": [], "fetch_id": []}
            offsets = (pdf["fetch_offset_ms"] if "fetch_offset_ms" in pdf
                       else pd.Series([0] * len(pdf)))
            hosts = (pdf["host_key"] if "host_key" in pdf
                     else pd.Series([""] * len(pdf)))
            for url, off, host in zip(pdf["url"], offsets, hosts):
                if respect_offsets:
                    target = t0 + off / 1000.0
                    if host in last_issue:
                        t_prev, off_prev = last_issue[host]
                        target = max(target,
                                     t_prev + (off - off_prev) / 1000.0)
                    wait = target - clock()
                    if wait > 0:
                        sleep(wait)
                    last_issue[host] = (clock(), off)
                t1 = clock()
                status, ctype, clen = transport(url, timeout_s)
                h = hashlib.md5(url.encode("utf-8")).hexdigest()
                res["fetch_key"].append(int(h[:15], 16))
                res["status"].append(status)
                res["content_type"].append(ctype)
                res["content_length"].append(clen)
                res["latency_ms"].append(int((clock() - t1) * 1000))
                res["fetch_id"].append(h)
            yield pd.concat([pdf[names].reset_index(drop=True),
                             pd.DataFrame(res)], axis=1)

    return scheduled.mapInPandas(run, out_schema)
