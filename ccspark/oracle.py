"""Pure-Python single-threaded crawl oracle — the engine's executable spec.

The reference's threaded path is non-deterministic (100-thread pool,
ProcessingService.java:44-49), so the specified semantics are its
deterministic MapReduce path (first-wins dedup, MediaReduce.java:12-19)
plus the defined total order (priority desc, depth, surt, url — SURVEY.md
U13) and the per-host politeness budget generalizing the global 150 ms
gate. The Spark engine (ccspark.scheduler) must reproduce this oracle's
scheduled ordering, URL-seen set, and per-round metrics exactly.

Uses the same kernels (ccspark.kernels) as the engine's pandas UDFs, so
floats and strings are bit-identical by construction.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field

import pandas as pd
import pyarrow.parquet as pq

from . import kernels as K
from .params import CrawlParams, order_key


def extract_links_py(doc: dict, follow_links: bool) -> list[dict]:
    """Per-kind emission spec (port of MediaNodeVisitor.tail,
    MediaNodeVisitor.java:61-139, over pre-interleaved spans):

    - img / video / source : emit when media_ref is non-empty
    - a / link             : emit when non-empty AND (isMediaUrl OR follow_links;
                             the reference gates on isMediaUrl only — follow_links
                             is the frontier generalization)
    - iframe / embed / object : emit when non-empty AND isMediaUrl
    - kind='text' never emits (F9 empty/null guard for the rest)

    Span-field mapping (flat spans, SURVEY.md §1.4): alt := span.text,
    dom_depth := span.offset, dom_sib := len(spans) - 1, parent_txt := ''.
    """
    spans = doc["spans"]
    n_sib = len(spans) - 1
    out = []
    for sp in spans:
        kind = sp["kind"]
        if kind == "text":
            continue
        ref = sp["media_ref"] or ""
        if ref == "":
            continue
        if kind in ("a", "link"):
            if not follow_links and not _is_media(ref):
                continue
            if follow_links and not _is_media(ref):
                pass  # followed as a page candidate
        elif kind in ("iframe", "embed", "object"):
            if not _is_media(ref):
                continue
        out.append({
            "url_raw": ref,
            "page_url": doc["page_url"],
            "kind": kind,
            "alt": (sp["text"] or "")[:500],   # TEXT_SIZE_LIMIT, MediaNodeVisitor.java:44
            "parent_txt": "",
            "dom_depth": int(sp["offset"]),
            "dom_sib": n_sib,
            "src_doc_id": doc["doc_id"],
            "offset": int(sp["offset"]),
            "event_ms": doc.get("fetch_ms"),
        })
    return out


def _is_media(url: str) -> bool:
    return bool(K.is_media_series(pd.Series([url])).iloc[0])


@dataclass
class OracleResult:
    scheduled: list[list[dict]] = field(default_factory=list)  # per round, total order
    seen: dict = field(default_factory=dict)                   # url -> first round
    domains: dict = field(default_factory=dict)                # host_key -> first round
    traps: dict = field(default_factory=dict)                  # host_key -> first trapped round
    frontier: dict = field(default_factory=dict)               # url -> record (unscheduled)
    host_admitted: dict = field(default_factory=dict)          # host_key -> lifetime admissions
    content_seen: set = field(default_factory=set)             # span digests extracted
    metrics: list[dict] = field(default_factory=list)


def _pagerank_fp(nodes: set, edges: set, iters: int = 3) -> dict:
    """Single-threaded twin of webgraph.pagerank_fixed_point: identical
    int64 floor arithmetic (Python // on non-negative ints ≡ Spark div)."""
    scale = 10**12
    base = scale * 15 // 100
    outdeg: dict = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    ranks = {n: scale for n in nodes}
    for _ in range(iters):
        inflow: dict = {}
        for s, d in edges:
            inflow[d] = inflow.get(d, 0) + (ranks[s] * 85 // 100) // outdeg[s]
        ranks = {n: base + inflow.get(n, 0) for n in nodes}
    return ranks


def _span_serial(doc: dict) -> str:
    """Python twin of scheduler.span_serial_expr — byte-for-byte: spans
    sorted by (offset, kind, body), one 'offset:kind:body' line each,
    body = text or (when text is empty) media_ref."""
    rows = sorted((s["offset"], s["kind"],
                   s["text"] if s["text"] else s["media_ref"])
                  for s in doc["spans"])
    return "\n".join(f"{o}:{k}:{b}" for o, k, b in rows)


def _span_digest(doc: dict) -> str:
    import hashlib
    return hashlib.md5(_span_serial(doc).encode("utf-8")).hexdigest()


def _robots_rule_matches(path: str, p: str) -> bool:
    """RFC 9309 §2.2.2 rule match ('*' any sequence, trailing '$'
    end-anchor) — byte-for-byte twin of the engine's JVM expression
    (politeness._robots_rule_matches)."""
    if "*" in p or p.endswith("$"):
        body, anchor = (p[:-1], "$") if p.endswith("$") else (p, "")
        rx = "^" + re.escape(body).replace("\\*", ".*") + anchor
        return re.search(rx, path) is not None
    return path.startswith(p)


def _robots_blocked(path: str, rb: dict) -> bool:
    """Longest matching rule wins; tie → allow (least restrictive)."""
    dis = max((len(p) for p in rb["disallow"]
               if _robots_rule_matches(path, p)), default=0)
    alw = max((len(p) for p in (rb.get("allow") or [])
               if _robots_rule_matches(path, p)), default=0)
    return dis > alw


def run_oracle(documents_path: str, seeds_path: str, robots_path: str,
               params: CrawlParams = CrawlParams(),
               sitemaps_path: str | None = None) -> OracleResult:
    docs_tbl = pq.read_table(documents_path).to_pylist()
    seeds = [r["url"] for r in pq.read_table(seeds_path).to_pylist()]
    robots_tbl = pq.read_table(robots_path)
    fetched_ms = robots_tbl.column("fetched_at").cast("int64").to_pylist()
    robots = {}
    for r, ms in zip(robots_tbl.to_pylist(), fetched_ms):
        if (params.robots_max_age_ms is not None
                and params.crawl_as_of_ms is not None
                and ms < params.crawl_as_of_ms - params.robots_max_age_ms):
            continue  # U12 staleness: stale rows behave as absent
        # one row per host: freshest generation wins, ties broken by
        # content — order-independent, mirroring the engine's max_by
        # reduction of the cache (scheduler.CrawlEngine.__init__)
        cur = robots.get(r["host"])
        if cur is None or ((ms, r["crawl_delay"], tuple(r["disallow"]),
                            tuple(r.get("allow") or []))
                           >= (cur["_ms"], cur["crawl_delay"],
                               tuple(cur["disallow"]),
                               tuple(cur.get("allow") or []))):
            robots[r["host"]] = dict(r, _ms=ms)
    docs_by_url = {d["page_url"]: d for d in docs_tbl}

    res = OracleResult()
    candidates = [{
        "url_raw": u, "page_url": "", "kind": "seed", "alt": "",
        "parent_txt": "", "dom_depth": 0, "dom_sib": 0,
        "src_doc_id": "seed", "offset": 0,
    } for u in seeds]
    if params.sitemap_seeding and sitemaps_path is not None:
        # mirrors CrawlEngine._sitemap_candidates: <loc> entries in
        # document order, lineage = (sitemap:<host>, position)
        for row in pq.read_table(sitemaps_path).to_pylist():
            for k, u in enumerate(
                    re.findall(r"<loc>(.*?)</loc>", row["xml"])):
                candidates.append({
                    "url_raw": u, "page_url": "", "kind": "sitemap",
                    "alt": "", "parent_txt": "", "dom_depth": 0,
                    "dom_sib": 0, "src_doc_id": f"sitemap:{row['host']}",
                    "offset": k,
                })

    for r in range(params.rounds):
        m = {"round": r}
        # 0. recrawl policy (mirrors CrawlEngine.run_round): failed
        # fetches from k rounds ago leave the seen set and re-enter as
        # candidates (page_url='' — lineage fields carried verbatim, so
        # the recomputed priority is identical in both engines)
        if (params.recrawl_after_rounds is not None
                and r >= params.recrawl_after_rounds):
            # eligibility from the RECORDED fetch outcome (set in step 5);
            # 304 Not Modified is a success — never failure-recrawled
            stale = [c for c in res.scheduled[r - params.recrawl_after_rounds]
                     if c["status"] not in (200, 304)]
            for c in stale:
                res.seen.pop(c["url"], None)
            m["recrawled"] = len(stale)
            candidates = [{
                "url_raw": c["url"], "page_url": "", "kind": c["kind"],
                "alt": c["alt"], "parent_txt": c["parent_txt"],
                "dom_depth": c["dom_depth"], "dom_sib": c["dom_sib"],
                "src_doc_id": c["src_doc_id"], "offset": c["offset"],
                **({"hop": c["hop"]} if params.max_hops is not None
                   else {}),
            } for c in stale] + candidates
        # 0b. revisit policy (mirrors CrawlEngine.run_round): successful
        # fetches from k rounds ago leave the seen set and re-enter
        # marked src_doc_id='revisit' (priority inputs verbatim —
        # src_doc_id is only the dedup tie-break / fetchsim marker)
        if (params.revisit_after_rounds is not None
                and r >= params.revisit_after_rounds):
            fresh = [c for c in res.scheduled[r - params.revisit_after_rounds]
                     if c["status"] in (200, 304)]
            for c in fresh:
                res.seen.pop(c["url"], None)
            m["revisited"] = len(fresh)
            candidates = [{
                "url_raw": c["url"], "page_url": "", "kind": c["kind"],
                "alt": c["alt"], "parent_txt": c["parent_txt"],
                "dom_depth": c["dom_depth"], "dom_sib": c["dom_sib"],
                "src_doc_id": "revisit", "offset": 0,
                **({"hop": c["hop"]} if params.max_hops is not None
                   else {}),
            } for c in fresh] + candidates
        # 0c. max-hops control (mirrors CrawlEngine.run_round): default
        # missing hop lineage to 0, drop beyond-limit candidates before
        # admission; candidates_in counts survivors
        if params.max_hops is not None:
            for c in candidates:
                c.setdefault("hop", 0)
            before_hx = len(candidates)
            candidates = [c for c in candidates
                          if c["hop"] <= params.max_hops]
            m["hops_exceeded"] = before_hx - len(candidates)
        m["candidates_in"] = len(candidates)
        # 1. canonicalize (kernels = same code as the engine UDFs)
        canon = []
        for c in candidates:
            src = K.strip_whitespace(pd.Series([c["url_raw"]])).iloc[0]
            page = K.strip_whitespace(pd.Series([c["page_url"]])).iloc[0]
            if src == "":
                continue
            url = K.normalize_one(src, page) if not K.is_absolute(src) else src
            if url is None:
                continue
            host = K.hosts_of(pd.Series([url])).iloc[0]
            if host is None or host == "":
                continue
            hk = host[4:] if host.startswith("www.") else host
            rec = dict(c)
            rec.update(url=url, host=host, host_key=hk.lower(),
                       surt=K.surt_one(url), depth=r)
            canon.append(rec)
        m["malformed_dropped"] = m["candidates_in"] - len(canon)

        # priority via the shared kernel (vectorized, bit-identical to engine)
        if canon:
            pdf = pd.DataFrame({
                "url": [c["url"] for c in canon],
                "page_url": [c["page_url"] for c in canon],
                "kind": [c["kind"] for c in canon],
                "alt": [c["alt"] for c in canon],
                "parent_txt": [c["parent_txt"] for c in canon],
                "dom_depth": [c["dom_depth"] for c in canon],
                "dom_sib": [c["dom_sib"] for c in canon],
            })
            pri = K.priority_scores(pdf)
            for c, p in zip(canon, pri):
                c["priority"] = float(p)

        # 1b. host-centrality prior (mirrors webgraph.apply_pagerank_prior):
        # fixed-point integer PageRank on this batch's link graph, then
        # priority += weight × rank/1e12 (one float multiply-add — same
        # IEEE ops, same order, as the engine's expression).
        if params.pagerank_prior_weight is not None and canon:
            edges = set()
            for c in canon:
                ph = K.hosts_of(pd.Series([c["page_url"]])).iloc[0]
                if ph is None or ph == "":
                    continue
                src = (ph[4:] if ph.startswith("www.") else ph).lower()
                if src and src != c["host_key"]:
                    edges.add((src, c["host_key"]))
            nodes = {c["host_key"] for c in canon} | {s for s, _ in edges}
            ranks = _pagerank_fp(nodes, edges)
            w = params.pagerank_prior_weight
            for c in canon:
                c["priority"] = c["priority"] + w * (
                    ranks[c["host_key"]] / 1.0e12)

        # 2. robots admission (counted, permanently dropped) — RFC 9309
        # §2.2.2 longest-match over Allow + Disallow, mirroring
        # politeness.with_robots_blocked_flag exactly
        admitted = []
        blocked = 0
        for c in canon:
            rb = robots.get(c["host_key"])
            _, _, _path, _q = K.split_url(c["url"])
            path = _path + ("?" + _q if _q else "")
            if rb and _robots_blocked(path, rb):
                blocked += 1
            else:
                admitted.append(c)
        m["robots_blocked"] = blocked

        # 2b. crawl-trap guard (mirrors CrawlEngine.run_round): template =
        # query stripped, digit runs collapsed to 'N'; hosts whose
        # distinct-URL/template ratio crosses the threshold on this
        # round's admitted batch join the cumulative trap set, then ALL
        # trapped hosts' candidates (including this round's) are dropped.
        if params.trap_ratio_pm is not None:
            stats: dict[str, tuple[set, set]] = {}
            for c in admitted:
                tm = re.sub(r"[0-9]+", "N", re.sub(r"\?.*$", "", c["url"]))
                us, ts = stats.setdefault(c["host_key"], (set(), set()))
                us.add(c["url"])
                ts.add(tm)
            n_new_traps = 0
            for h, (us, ts) in stats.items():
                if (h not in res.traps and len(us) >= params.trap_min_urls
                        and (1000 * len(us)) // len(ts)
                        >= params.trap_ratio_pm):
                    res.traps[h] = r
                    n_new_traps += 1
            m["trap_hosts_new"] = n_new_traps
            before = len(admitted)
            admitted = [c for c in admitted
                        if c["host_key"] not in res.traps]
            m["trap_dropped"] = before - len(admitted)

        # 3. first-wins dedup within the batch (winner = best by total order,
        #    then (src_doc_id, offset) for lineage determinism), then vs seen
        admitted.sort(key=lambda c: order_key(c) + (c["src_doc_id"], c["offset"]))
        batch_new = {}
        for c in admitted:
            if c["url"] not in batch_new:
                batch_new[c["url"]] = c
        new = [c for u, c in batch_new.items() if u not in res.seen]
        m["dup_dropped"] = len(admitted) - len(new)
        m["dedup_rate"] = (m["dup_dropped"] / len(admitted)) if admitted else 0.0
        # per-host lifetime quota (mirrors scheduler.run_round's capped
        # admission): batch_new iterates in the SAME deterministic
        # admission order the engine's per-host rank window sorts by, so
        # the kept prefix per host is identical
        if params.max_urls_per_host is not None:
            kept, capped = [], 0
            for c in new:
                cnt = res.host_admitted.get(c["host_key"], 0)
                if cnt < params.max_urls_per_host:
                    res.host_admitted[c["host_key"]] = cnt + 1
                    kept.append(c)
                else:
                    capped += 1
            m["host_cap_dropped"] = capped
            new = kept
        for c in new:
            res.seen[c["url"]] = r
            res.frontier[c["url"]] = c
        m["new_seen"] = len(new)
        # running seen-set cardinality (mirrors the engine's driver
        # scalar — the rebucket trigger's input)
        m["seen_total"] = len(res.seen)
        # U6 domain-seen (Statistics.java:54-60)
        n_dom = 0
        for c in new:
            if c["host_key"] not in res.domains:
                res.domains[c["host_key"]] = r
                n_dom += 1
        m["new_domains"] = n_dom

        # 4. per-host politeness budget over the WHOLE frontier, total order
        # 4a. adaptive politeness (mirrors CrawlEngine.run_round): previous
        # round's integer mean latency per host → delay floor; the same
        # `div` integer arithmetic and the same single IEEE max/division
        ad_ms: dict[str, int] = {}
        if params.adaptive_delay_factor_pm is not None and r >= 1:
            lat: dict[str, tuple[int, int]] = {}
            for c in res.scheduled[r - 1]:
                l = K.md5_key_one(c["url"]) % 500 + 10
                s, n = lat.get(c["host_key"], (0, 0))
                lat[c["host_key"]] = (s + l, n + 1)
            ad_ms = {h: (s // n) * params.adaptive_delay_factor_pm // 1000
                     for h, (s, n) in lat.items()}
            m["adaptive_hosts"] = len(ad_ms)
        def _host_delay(hk: str) -> float:
            rb = robots.get(hk)
            d = rb["crawl_delay"] if rb else params.default_crawl_delay
            if ad_ms:
                d = max(d, ad_ms.get(hk, 0) / 1000.0)
            return d

        # politeness unit: host (default) or deterministic address group
        # (params.politeness_ip_groups — mirrors politeness.ip_group_col:
        # md5('ip:'+host_key) first-15-hex mod n). The group delay is the
        # MAX of member-host delays over hosts present in the frontier
        # (mirrors politeness.group_delays).
        by_unit: dict = {}
        for c in res.frontier.values():
            if params.politeness_ip_groups is not None:
                unit = K.md5_key_one("ip:" + c["host_key"]) \
                    % params.politeness_ip_groups
            elif params.politeness_by_domain:
                # per-site grouping (mirrors politeness.domain_group_col)
                unit = K.registered_domain_one(c["host_key"])
            else:
                unit = c["host_key"]
            by_unit.setdefault(unit, []).append(c)
        if params.politeness_ip_groups is not None:
            m["ip_groups"] = len(by_unit)
        elif params.politeness_by_domain:
            m["domain_groups"] = len(by_unit)
        # priority aging (mirrors scheduler.run_round's _eff column): the
        # SCHEDULING key uses priority + rounds-waited × boost — same int
        # subtract + double multiply-add, same IEEE op order. Recorded
        # rows keep the un-aged priority (the engine never persists _eff).
        if params.age_boost_pm is not None:
            _f = params.age_boost_pm / 1000.0

            def _base(c):
                return c["priority"] + (r - c["depth"]) * _f
        else:
            def _base(c):
                return c["priority"]
        if params.dual_model_priority:
            # dual-model arbitration ordering (mirrors run_round's
            # dual_big_udf boost): (base + 1000.0) in that exact float
            # op order when the reference arbitration says big
            def sched_key(c):
                eff = _base(c)
                if K.dual_model_big_one(c["url"], c["priority"]):
                    eff = eff + 1000.0
                return (-eff, c["depth"], c["surt"], c["url"])
        elif params.age_boost_pm is not None:
            def sched_key(c):
                return (-_base(c), c["depth"], c["surt"], c["url"])
        else:
            sched_key = order_key
        scheduled = []
        for unit, recs in by_unit.items():
            delay = max(_host_delay(hk) for hk in {c["host_key"]
                                                   for c in recs})
            budget = max(0, math.floor(params.round_seconds / delay))
            recs.sort(key=sched_key)
            for idx, c in enumerate(recs[:budget]):
                # same op order as the engine: (rank-1)*delay then *1000
                c["fetch_offset_ms"] = int(idx * delay * 1000)
            scheduled.extend(recs[:budget])
        scheduled.sort(key=sched_key)
        if params.max_scheduled_per_round is not None:
            # U9 backpressure: global top-K in (aged) total order
            scheduled = scheduled[:params.max_scheduled_per_round]
        # recorded order = the persisted total order (scheduled_rounds
        # reads back by the UN-aged priority column)
        scheduled.sort(key=order_key)
        for c in scheduled:
            del res.frontier[c["url"]]
            c["fetch_round"] = r
        res.scheduled.append(scheduled)
        m["scheduled"] = len(scheduled)
        m["frontier_depth"] = len(res.frontier)

        # 5. deterministic fetch-sim (md5-keyed; ccspark.fetchsim mirrors this)
        candidates = []
        fetched_pages = 0
        fetched_docs = []  # (scheduled rec, doc) when content_dedup is on
        redirects = []
        n_not_modified = 0
        for c in scheduled:
            key = K.md5_key_one(c["url"])
            band = key % 100
            status = (200 if band < 95
                      else 301 if params.follow_redirects and band < 97
                      else 404)
            # revisit conditional-GET: second independent md5 band decides
            # changed (200) vs 304 Not Modified (mirrors fetchsim)
            if (params.revisit_after_rounds is not None
                    and c["src_doc_id"] == "revisit" and band < 95
                    and (K.md5_key2_one(c["url"]) % 100
                         >= params.revisit_changed_pct)):
                status = 304
                n_not_modified += 1
            c["status"] = status
            doc = docs_by_url.get(c["url"])
            if status == 200 and doc is not None:
                fetched_pages += 1
                if params.content_dedup:
                    fetched_docs.append((c, doc))
                else:
                    exts = extract_links_py(doc, params.follow_links)
                    if params.max_hops is not None:
                        for e in exts:
                            e["hop"] = c["hop"] + 1
                    candidates.extend(exts)
            elif status == 301:
                # mirrors CrawlEngine.run_round's redirect candidates:
                # target = url + '/moved', lineage kind='redirect'
                redirects.append({
                    "url_raw": c["url"] + "/moved", "page_url": c["url"],
                    "kind": "redirect", "alt": "", "parent_txt": "",
                    "dom_depth": 0, "dom_sib": 0,
                    "src_doc_id": "redirect", "offset": 0,
                    # a followed redirect is one hop (Heritrix R-hop)
                    **({"hop": c["hop"] + 1}
                       if params.max_hops is not None else {}),
                })
        # content-digest dedup (mirrors CrawlEngine.run_round): within the
        # round, the winner per fresh digest is the smallest page_url;
        # already-seen digests skip link extraction entirely
        if params.content_dedup:
            ndup = 0
            for c, doc in sorted(fetched_docs,
                                 key=lambda cd: cd[1]["page_url"]):
                dg = _span_digest(doc)
                if dg in res.content_seen:
                    ndup += 1
                    continue
                res.content_seen.add(dg)
                exts = extract_links_py(doc, params.follow_links)
                if params.max_hops is not None:
                    for e in exts:
                        e["hop"] = c["hop"] + 1
                candidates.extend(exts)
            m["content_dups"] = ndup
        candidates.extend(redirects)
        m["pages_discovered"] = fetched_pages
        if params.follow_redirects:
            m["redirects_followed"] = len(redirects)
        if params.revisit_after_rounds is not None:
            m["not_modified"] = n_not_modified
        res.metrics.append(m)

    return res
