"""Pure pandas/numpy URL + feature kernels. No Spark imports.

Single source of truth shared by (a) the Spark engine, which calls these
inside vectorized pandas/Arrow UDFs, and (b) the pure-Python oracle
(ccspark.oracle) that defines the engine's golden semantics. Sharing the
kernel guarantees bit-identical floats and byte-identical URLs between the
distributed plan and the single-threaded spec.

Ported semantics (citations into /root/reference/):
- whitespace strip:   ProcessingService.java:170-171
- relative-URL resolution ("normalize"): ProcessingService.java:436-474,
  including its quirks — the else-branch drops the base path entirely and
  the ".." branch pops one path segment per split element (not per "..").
- host extraction:    java.net.URL#getHost semantics, ProcessingService.java:393-394
- www-strip:          ProcessingService.java:403-405
- media-URL predicate: MediaNodeVisitor.java:32-42,159-168 (full-match)
- video predicate:    ProcessingService.java:52-55,477-479 (full-match)
- dims-from-URL:      FeaturesArffCreator.java:155-182
- 23-dim feature vector: ProcessingService.java:595-689
- char n-grams:       ScoreNgramArffCreator.java:104-138 (Lucene
  NGramTokenizer min=2 max=15, NGramAnalyzer.java:22-23)
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd

# --------------------------------------------------------------------------
# regexes (verbatim ports; Java Pattern.matches == Python fullmatch)
# --------------------------------------------------------------------------

# java.net.URL only accepts registered protocols; everything else throws
# MalformedURLException and falls into the reconstruction branch.
ABS_RE_STR = r"(?i:https?|ftp|file|jar|mailto):"
_ABS_RE = re.compile("^" + ABS_RE_STR)

MEDIA_SUFFIX_RE = r"(?i).*\.(jpg|jpeg|png|gif|bmp|3gp|avi|flv|m4v|mov|mpg|mp4|mpeg|swf|wmv)$"

# MediaNodeVisitor.java:36-42 — verbatim, including the unescaped '.' and
# the '?' that makes the preceding char optional (reference quirks).
PLATFORM_RES = [
    r"https*://instagram.com/p/([\w\-]+)/",
    r"https*://www.youtube.com/watch?.*v=([a-zA-Z0-9_\-]+)(&.+=.+)*",
    r"https*://vimeo.com/([0-9]+)/*$",
    r"https*://twitpic.com/([A-Za-z0-9]+)/*.*$",
    r"https*://www.dailymotion.com/video/([A-Za-z0-9]+)_.*$",
    r"https*://www.facebook.com/photo.php?.*fbid=([a-zA-Z0-9_\-]+)(&.+=.+)*",
    r"https*://flickr.com/photos/([A-Za-z0-9@]+)/([A-Za-z0-9@]+)/*.*$",
]

# ProcessingService.java:52 (mid-pattern (?i) rewritten to scoped (?i:) —
# same semantics, legal in both Java and Python).
VIDEO_SUFFIX_RE = (
    r"[^\s]+\.(?i:webm|mkv|flv|ogg|ogv|avi|mov|wmv|rm|mp4|m4v|mpg|mpeg|mp2|m2v|3gp|3g2|mxf)$"
)
VIDEO_PLATFORM_RES = [PLATFORM_RES[1], PLATFORM_RES[2], PLATFORM_RES[4]]

_MEDIA_COMPILED = [re.compile(MEDIA_SUFFIX_RE)] + [re.compile(p) for p in PLATFORM_RES]
_VIDEO_COMPILED = [re.compile(VIDEO_SUFFIX_RE)] + [re.compile(p) for p in VIDEO_PLATFORM_RES]


def spark_fullmatch_re(patterns: list[str]) -> str:
    """Anchor a list of Java-regex patterns for Spark's find-based rlike."""
    return "|".join(f"^(?:{p})$" for p in patterns)


SPARK_MEDIA_RE = spark_fullmatch_re([MEDIA_SUFFIX_RE] + PLATFORM_RES)
SPARK_VIDEO_RE = spark_fullmatch_re([VIDEO_SUFFIX_RE] + VIDEO_PLATFORM_RES)

# FeaturesArffCreator.java:159
_DIMS_RE = re.compile(r"(\d+x\d+)+|(w|h|s)_?\d+|\d+px|(width|height|w|h)=\d+|_\d+\.")
# same pattern, non-capturing — for the vectorized contains() prefilter
_DIMS_RE_NC = re.compile(r"(?:\d+x\d+)+|(?:w|h|s)_?\d+|\d+px|(?:width|height|w|h)=\d+|_\d+\.")
_NON_DIGIT = re.compile(r"[^\d]")

# --------------------------------------------------------------------------
# URL decomposition (java.net.URL getHost/getPath/getProtocol semantics)
# --------------------------------------------------------------------------


def split_url(url: str) -> tuple[str, str, str, str]:
    """Return (protocol_lower, host, path, query) like java.net.URL.

    host preserves case (getHost does), excludes userinfo and port;
    path is everything between authority and '?'/'#'.
    """
    i = url.index(":")
    proto = url[:i].lower()
    rest = url[i + 1:]
    if rest.startswith("//"):
        end = len(rest)
        for ch in "/?#":
            j = rest.find(ch, 2)
            if j != -1:
                end = min(end, j)
        authority, after = rest[2:end], rest[end:]
    else:
        authority, after = "", rest
    host = authority.rsplit("@", 1)[-1]
    if ":" in host:
        host = host.split(":", 1)[0]
    path, query = after, ""
    j = path.find("#")
    if j != -1:
        path = path[:j]
    j = path.find("?")
    if j != -1:
        path, query = path[:j], path[j + 1:]
    return proto, host, path, query


def is_absolute(url: str) -> bool:
    return bool(_ABS_RE.match(url))


def normalize_one(src: str, page_url: str) -> str | None:
    """Port of ProcessingService.normalize() (ProcessingService.java:436-474).

    Returns the normalized absolute URL, or None when both parses fail
    (engine semantics: the candidate row is dropped, counted in metrics).
    Quirks preserved:
    - absolute src is returned untouched (the reference never reassigns
      imageUrl in the try branch);
    - the '..' branch pops one base-path segment per split ELEMENT
      (len = elements.length, i.e. #dotdots+1), guarded by rfind('/') > 2;
    - the else branch drops the base path entirely: 'a/b.jpg' against
      'http://h/x/y.html' resolves to 'http://h/a/b.jpg';
    - base port is dropped (getHost excludes it).
    """
    if _ABS_RE.match(src):
        return src
    if not _ABS_RE.match(page_url):
        return None
    try:
        proto, host, path, _ = split_url(page_url)
    except ValueError:
        return None
    parts = src.split("..")
    while parts and parts[-1] == "":
        parts.pop()
    n = len(parts)
    if n > 1:
        tail = parts[-1]
        p = path
        idx = p.rfind("/")
        while n > 0 and idx > 2:
            p = p[:idx]
            n -= 1
            idx = p.rfind("/")
        return f"{proto}://{host}{p}{tail}"
    return f"{proto}://{host}" + ("" if src.startswith("/") else "/") + src


# --------------------------------------------------------------------------
# vectorized series kernels (pandas in / pandas out — used inside Arrow UDFs)
# --------------------------------------------------------------------------


def strip_whitespace(s: pd.Series) -> pd.Series:
    """ProcessingService.java:170-171 — replaceAll("\\s", "")."""
    return s.fillna("").str.replace(r"\s", "", regex=True)


# Fast-path twin of split_url for ABSOLUTE urls: one compiled regex per
# row beats chained pandas .str passes ~10× (each .str op is a full
# series allocation). group1 = authority (None when no '//'), group2 =
# everything after. Equivalence with split_url (the spec) is pinned by
# tests/test_kernels.py::TestVectorizedDecompose.
_FAST_RE = re.compile(r"^[^:]*:(?://([^/?#]*))?(.*)$", re.DOTALL)

# One-pass decomposition: scheme check + host (userinfo/port stripped) +
# path + query in a SINGLE regex match per row — fuses the _ABS_RE match,
# the _FAST_RE match, and the rsplit('@')/split(':') host cleanup that
# round 1 did as 4-6 separate Python ops per row. group1 = host (None
# when the URL has no '//' authority), group2 = path, group3 = query.
# `[^/?#]*@` is greedy, so it consumes through the LAST '@' of the
# authority (== rsplit('@', 1)), and `[^/?#:]*` stops the host at the
# first ':' (== split(':', 1)[0]). Equivalence with split_url (the spec)
# is pinned by tests/test_kernels.py::TestVectorizedDecompose.
_DECOMP_ONE_RE = re.compile(
    r"^(?i:https?|ftp|file|jar|mailto):"
    r"(?://(?:[^/?#]*@)?([^/?#:]*)(?::[^/?#]*)?)?"
    r"([^?#]*)(?:\?([^#]*))?")


def _decomp_match(u):
    return _DECOMP_ONE_RE.match(u) if isinstance(u, str) else None


def decompose_batch(urls: pd.Series):
    """(host, path, query) Series for absolute URLs; None rows elsewhere.
    One regex pass per row; group access afterwards is C-level."""
    ms = urls.map(_decomp_match)
    host = ms.map(lambda m: None if m is None else (m.group(1) or ""))
    path = ms.map(lambda m: None if m is None else m.group(2))
    query = ms.map(lambda m: None if m is None else (m.group(3) or ""))
    return host, path, query


def _fast_host(u) -> str | None:
    if not isinstance(u, str) or not _ABS_RE.match(u):
        return None
    m = _FAST_RE.match(u)
    a = m.group(1)
    if a is None:
        return ""
    a = a.rsplit("@", 1)[-1]
    i = a.find(":")
    return a[:i] if i >= 0 else a


def _fast_path_query(u) -> tuple[str, str]:
    rest = _FAST_RE.match(u).group(2)
    i = rest.find("#")
    if i >= 0:
        rest = rest[:i]
    i = rest.find("?")
    if i >= 0:
        return rest[:i], rest[i + 1:]
    return rest, ""


def _decompose(urls: pd.Series) -> pd.DataFrame:
    """split_url over a series (absolute rows only; NaN elsewhere)."""
    host = urls.map(_fast_host)
    pq = [(None, None) if h is None else _fast_path_query(u)
          for u, h in zip(urls, host)]
    return pd.DataFrame({"host": host,
                         "path": [p for p, _ in pq],
                         "query": [q for _, q in pq]}, index=urls.index)


def normalize_series(src: pd.Series, page: pd.Series) -> pd.Series:
    """Vectorized normalize: absolutes pass through (the common, fast path);
    relatives run the exact reconstruction per element within the batch."""
    src = src.fillna("")
    page = page.fillna("")
    absolute = src.str.match(ABS_RE_STR)
    out = src.where(absolute, None)
    rel = ~absolute & (src != "")
    if rel.any():
        out.loc[rel] = [normalize_one(s, p) for s, p in zip(src[rel], page[rel])]
    return out


def hosts_of(urls: pd.Series) -> pd.Series:
    """java.net.URL#getHost for absolute URLs; None otherwise."""
    return urls.map(
        lambda u: (lambda m: None if m is None else (m.group(1) or ""))(
            _decomp_match(u)))


def strip_www(hosts: pd.Series) -> pd.Series:
    """ProcessingService.java:403-405 — case-sensitive startsWith("www.")."""
    return hosts.str.replace(r"^www\.", "", regex=True, case=True)


def paths_of(urls: pd.Series) -> pd.Series:
    return urls.map(
        lambda u: None if _fast_host(u) is None else _fast_path_query(u)[0])


def surt_one(url: str) -> str | None:
    """SURT-style sort key: reversed lowercase host (www-stripped), then path
    and query. Total-order key for the frontier (SURVEY.md U4/U13)."""
    if not isinstance(url, str) or not _ABS_RE.match(url):
        return None
    try:
        _, host, path, query = split_url(url)
    except ValueError:
        return None
    h = host.lower()
    if h.startswith("www."):
        h = h[4:]
    key = ",".join(reversed(h.split("."))) + ")" + path
    if query:
        key += "?" + query
    return key


def _fast_surt(u) -> str | None:
    h = _fast_host(u)
    if h is None:
        return None
    path, query = _fast_path_query(u)
    h = h.lower()
    if h.startswith("www."):
        h = h[4:]
    key = ",".join(reversed(h.split("."))) + ")" + path
    return key + "?" + query if query else key


def _surt_host_part(h: str) -> str:
    """reversed-dot-join of a lowercased, www-stripped host."""
    return ",".join(reversed(h.split(".")))


def surt_from_parts(host: pd.Series, path: pd.Series,
                    query: pd.Series) -> pd.Series:
    """SURT key from a decomposed URL batch. The per-element reverse-join
    runs once per DISTINCT host in the batch (pd.factorize): a crawl
    batch has far fewer hosts than URLs, so this is the scalable shape."""
    h = host.str.lower().str.replace(r"^www\.", "", regex=True)
    codes, uniques = pd.factorize(h)
    rev = np.empty(len(uniques), dtype=object)
    for i, x in enumerate(uniques):
        rev[i] = _surt_host_part(x)
    keyed = pd.Series(
        np.where(codes >= 0, rev[codes.clip(min=0)], None),
        index=host.index, dtype=object)
    out = keyed + ")" + path
    q = query.fillna("")
    return out.where(q == "", out + "?" + q)


def surt_series(urls: pd.Series) -> pd.Series:
    """surt_one over a series: one decompose pass + per-distinct-host
    reverse-join (equivalence with surt_one pinned by tests)."""
    host, path, query = decompose_batch(urls)
    return surt_from_parts(host, path, query)


def is_media_series(urls: pd.Series) -> pd.Series:
    s = urls.fillna("")
    m = s.str.fullmatch(MEDIA_SUFFIX_RE)
    for p in PLATFORM_RES:
        m = m | s.str.fullmatch(p)
    return m


def is_video_series(urls: pd.Series) -> pd.Series:
    s = urls.fillna("")
    m = s.str.fullmatch(VIDEO_SUFFIX_RE)
    for p in VIDEO_PLATFORM_RES:
        m = m | s.str.fullmatch(p)
    return m


def md5_key_one(url: str) -> int:
    """Deterministic 60-bit key from md5 — the cross-engine (Spark/DuckDB/
    Python) fetch-outcome seed. 15 hex digits < 2^60 fits a signed int64.
    Analog of the reference's UUID.nameUUIDFromBytes fetch id
    (ProcessingService.java:350-355, also MD5-based)."""
    return int(hashlib.md5(url.encode("utf-8")).hexdigest()[:15], 16)


def md5_keys(urls: pd.Series) -> pd.Series:
    return urls.map(md5_key_one).astype("int64")


#: public-suffix subset for registered-domain extraction (the full
#: publicsuffix.org list is data, not logic — a deployment swaps it in).
#: Shared by the engine expression (politeness.domain_group_col), the
#: analytics query (content.url_registered_domain) and the pure-Python
#: oracle, so all three agree by construction.
PSL2 = ("co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au",
        "co.jp", "ne.jp", "com.br", "com.cn", "co.in", "co.za")


def registered_domain_one(host: str) -> str:
    """publicsuffix.org rule over PSL2: last-2 labels ∈ PSL → registered
    domain is the last THREE labels, else the last two (or the host
    itself when it has a single label)."""
    labels = host.split(".")
    if len(labels) >= 3 and ".".join(labels[-2:]) in PSL2:
        return ".".join(labels[-3:])
    if len(labels) >= 2:
        return ".".join(labels[-2:])
    return host


def md5_key2_one(url: str) -> int:
    """Second independent 60-bit key: hex digits 17-31 of the same md5.
    Drives the change-at-revisit coin in fetchsim so it is independent of
    the primary status band (digits 1-15) — a URL's first-fetch outcome
    and its changed/not-modified revisit outcome never correlate."""
    return int(hashlib.md5(url.encode("utf-8")).hexdigest()[16:31], 16)


# --------------------------------------------------------------------------
# priority features (ProcessingService.getFeatureVector, 23 dims)
# --------------------------------------------------------------------------


def extract_dims_one(url: str) -> tuple[int, int]:
    """FeaturesArffCreator.extractNumeric (FeaturesArffCreator.java:155-182).

    Iterates matches; an 'NxM' match sets both dims and breaks; 'w'/'s'
    matches overwrite width, others height; NumberFormatException (int
    overflow) aborts, keeping partial state."""
    w = h = 0
    try:
        for m in _DIMS_RE.finditer(url):
            el = m.group()
            dims = el.split("x")
            while dims and dims[-1] == "":   # Java split drops trailing empties
                dims.pop()
            if len(dims) > 1:
                iw, ih = int(dims[0]), int(dims[1])
                if iw > 2**31 - 1 or ih > 2**31 - 1:
                    raise ValueError(el)  # Java Integer.parseInt overflow
                w, h = iw, ih
                break
            d = int(_NON_DIGIT.sub("", el))
            if d > 2**31 - 1:
                raise ValueError(el)
            if "w" in el or "s" in el:
                w = d
            else:
                h = d
    except ValueError:
        pass
    return w, h


def extract_dims_batch(urls: pd.Series) -> np.ndarray:
    """extract_dims_one over a batch, (n, 2) float array of (w, h).

    One vectorized findall pass finds the dim-looking substrings; the
    overwhelmingly common case — exactly one match, no 'x', ≤9 digits —
    is then resolved with numpy ops; anything else (multi-match, NxM,
    potential int overflow) falls back to the exact per-row port.
    Equivalence is pinned by tests (hypothesis + golden vectors)."""
    out = np.zeros((len(urls), 2), dtype=np.float64)
    matches = urls.str.findall(_DIMS_RE_NC)
    nm = matches.map(len).to_numpy()
    slow = nm > 1
    single_idx = np.flatnonzero(nm == 1)
    if len(single_idx):
        els = matches.iloc[single_idx].str[0]
        digits = els.str.replace(r"[^\d]", "", regex=True)
        # ≤9 digits can never overflow int32 (max 999,999,999 < 2^31-1),
        # so the fast path needs no overflow branch at all
        simple = (~els.str.contains("x", regex=False)
                  & (digits.str.len() <= 9)).to_numpy()
        fast_idx = single_idx[simple]
        if len(fast_idx):
            e = els[simple]
            d = digits[simple].astype(np.int64).to_numpy()
            isw = (e.str.contains("w", regex=False)
                   | e.str.contains("s", regex=False)).to_numpy()
            out[fast_idx, 0] = np.where(isw, d, 0)
            out[fast_idx, 1] = np.where(isw, 0, d)
        slow[single_idx[~simple]] = True
    if slow.any():
        out[slow] = [extract_dims_one(u) for u in urls.to_numpy()[slow]]
    return out


# deterministic fixed weights replacing the two RandomForests
# (ProcessingService.java:200-230) so crawl ordering is reproducible.
# Same 23 slots/order as createFeatureData (ProcessingService.java:692-724).
FEATURE_WEIGHTS = np.array([
    0.50,    # suffix jpeg
    0.45,    # suffix png
    0.10,    # suffix bmp
    0.15,    # suffix gif
    0.05,    # suffix tiff
    -0.020,  # domDepth
    -0.004,  # domSiblings
    0.30,    # hasWidth
    0.0008,  # width
    0.30,    # hasHeight
    0.0008,  # height
    0.60,    # samedomain
    0.55,    # domElement img
    0.10,    # domElement link
    0.35,    # domElement a
    0.12,    # domElement embed
    0.18,    # domElement iframe
    0.08,    # domElement object
    0.25,    # hasAltText
    0.0030,  # altTextLength
    0.12,    # hasParentText
    0.0006,  # parentTextLength
    -0.0015, # urlLength
], dtype=np.float64)


def _lhost_one(u) -> str:
    m = _decomp_match(u)
    if m is None:
        return ""
    h = m.group(1)
    return h.lower() if h else ""


def lhosts_factorized(urls: pd.Series) -> pd.Series:
    """lowercase host (or "") per url, extracting once per DISTINCT url —
    page URLs repeat heavily in a crawl batch (many links per page)."""
    codes, uniques = pd.factorize(urls)
    if len(uniques) == 0:
        return pd.Series([""] * len(urls), index=urls.index, dtype=object)
    vals = np.empty(len(uniques), dtype=object)
    for i, u in enumerate(uniques):
        vals[i] = _lhost_one(u)
    return pd.Series(np.where(codes >= 0, vals[codes.clip(min=0)], ""),
                     index=urls.index, dtype=object)


def feature_matrix(pdf: pd.DataFrame,
                   im_host_lower: pd.Series | None = None) -> np.ndarray:
    """23-dim feature matrix; pdf columns: url (normalized), page_url, kind,
    alt, parent_txt, dom_depth, dom_sib. Port of getFeatureVector
    (ProcessingService.java:595-689); dims via extractNumeric.

    im_host_lower: optionally the precomputed lowercase host of `url`
    (canon_block already has it — skip re-extraction)."""
    n = len(pdf)
    f = np.zeros((n, 23), dtype=np.float64)
    url = pdf["url"].fillna("")
    # getImageName / getSuffix (FeaturesArffCreator.java:188-194) — one
    # python pass beats two pandas rsplit passes
    suffix = url.map(lambda u: u.rsplit("/", 1)[-1].rsplit(".", 1)[-1])
    for j, sfx in enumerate(["jpeg", "png", "bmp", "gif", "tiff"]):
        f[:, j] = (suffix == sfx).to_numpy(dtype=np.float64)
    f[:, 5] = pdf["dom_depth"].fillna(0).to_numpy(dtype=np.float64)
    f[:, 6] = pdf["dom_sib"].fillna(0).to_numpy(dtype=np.float64)
    dims = extract_dims_batch(url)
    f[:, 7] = dims[:, 0] > 0
    f[:, 8] = dims[:, 0]
    f[:, 9] = dims[:, 1] > 0
    f[:, 10] = dims[:, 1]

    if im_host_lower is None:
        im_host = url.map(_lhost_one)
    else:
        im_host = im_host_lower.fillna("")
    pg_host = lhosts_factorized(pdf["page_url"].fillna(""))
    f[:, 11] = ((im_host != "") & (im_host == pg_host)).to_numpy(dtype=np.float64)
    kind = pdf["kind"].fillna("")
    for j, el in enumerate(["img", "link", "a", "embed", "iframe", "object"]):
        f[:, 12 + j] = (kind == el).to_numpy(dtype=np.float64)
    alt = pdf["alt"].fillna("")
    f[:, 18] = (alt != "").to_numpy(dtype=np.float64)
    f[:, 19] = alt.map(len).to_numpy(dtype=np.float64)
    par = pdf["parent_txt"].fillna("")
    f[:, 20] = (par != "").to_numpy(dtype=np.float64)
    f[:, 21] = par.map(len).to_numpy(dtype=np.float64)
    f[:, 22] = url.map(len).to_numpy(dtype=np.float64)
    return f


def priority_scores(pdf: pd.DataFrame,
                    im_host_lower: pd.Series | None = None) -> pd.Series:
    """Deterministic priority replacing the dual-RF arbitration — fixed
    weights over the reference's exact 23 features.

    The reduction is an explicit left-to-right sum (NOT a BLAS matmul):
    BLAS reorders the accumulation depending on batch shape, which would
    make the float differ between Arrow batch sizes and the oracle."""
    f = feature_matrix(pdf, im_host_lower=im_host_lower)
    acc = np.zeros(len(pdf), dtype=np.float64)
    for j in range(f.shape[1]):
        acc += f[:, j] * FEATURE_WEIGHTS[j]
    return pd.Series(acc, index=pdf.index)


def canon_block(src: pd.Series, page: pd.Series, kind: pd.Series,
                alt: pd.Series, parent_txt: pd.Series,
                dom_depth: pd.Series, dom_sib: pd.Series) -> pd.DataFrame:
    """U1+U2+U3+U4-key+U11 batch kernel behind udfs.canon_batches: ONE
    URL decomposition pass shared by host, surt AND the priority
    same-domain feature. Returns columns url/host/surt/priority."""
    url = normalize_series(strip_whitespace(src), strip_whitespace(page))
    ms = url.map(_decomp_match)
    host = ms.map(lambda m: None if m is None else (m.group(1) or ""))
    path = ms.map(lambda m: None if m is None else m.group(2))
    query = ms.map(lambda m: None if m is None else (m.group(3) or ""))
    surt = surt_from_parts(host, path, query)
    pri = priority_scores(pd.DataFrame({
        "url": url, "page_url": page, "kind": kind, "alt": alt,
        "parent_txt": parent_txt, "dom_depth": dom_depth,
        "dom_sib": dom_sib,
    }), im_host_lower=host.str.lower())
    return pd.DataFrame(
        {"url": url, "host": host, "surt": surt, "priority": pri})


# --------------------------------------------------------------------------
# char n-grams (ScoreNgramArffCreator.getNGramsFromString)
# --------------------------------------------------------------------------

MIN_NGRAM_SIZE = 2   # NGramAnalyzer.java:22
MAX_NGRAM_SIZE = 15  # NGramAnalyzer.java:23


def url_ngrams_one(s: str, nmin: int = MIN_NGRAM_SIZE, nmax: int = MAX_NGRAM_SIZE) -> set[str]:
    """ScoreNgramArffCreator.java:104-138: strip scheme after '://' when the
    string starts with 'http'; strip a ≤4-char extension; split on /|.|-;
    emit all lowercase char n-grams of each piece, sizes nmin..nmax."""
    if s.startswith("http"):
        s = s[s.find("://") + 3:]  # Java indexOf(-1)+3 == substring(2) quirk preserved
    dot = s.rfind(".")
    if dot >= len(s) - 5 and dot != -1:
        s = s[:dot]
    out: set[str] = set()
    for item in re.split(r"/|\.|\-", s):
        L = len(item)
        for size in range(nmin, min(nmax, L) + 1):
            for i in range(L - size + 1):
                out.add(item[i:i + size].lower())
    return out


# --------------------------------------------------------------------------
# dual-model priority arbitration (ProcessingService.java:200-222):
# classifier 1 = an n-gram model over the URL string, classifier 2 = the
# 23-feature model; if they agree the shared class wins, else the model
# with the larger confidence margin — n-gram-favored by ε = 0.05
# (`|d1[0]-d1[1]| + 0.05 > |d2[0]-d2[1]|`). The engine's deterministic
# stand-ins (same spirit as FEATURE_WEIGHTS replacing the two
# RandomForests, for reproducible ordering): classifier 1 scores the
# url_ngrams_one gram set against a fixed gram→weight table; classifier
# 2 is the existing priority scorer thresholded at 0.5. Margins map a
# score distance to Weka's |p0−p1| via tanh (the exact two-class
# logistic identity |p0−p1| = |tanh(Δlogit/2)|), rounded to 6 dp so the
# float is stable across engines and the pure-Python oracle.
# --------------------------------------------------------------------------

DUAL_EPSILON = 0.05  # ProcessingService.java:219

#: fixed n-gram evidence weights (gram → weight); grams are matched
#: against the url_ngrams_one set (extension already stripped — these
#: target name/path content, not the suffix the feature model sees)
NGRAM_WEIGHTS: dict[str, float] = {
    "img": 0.60, "image": 0.70, "photo": 0.70, "picture": 0.65,
    "pics": 0.50, "media": 0.40, "video": 0.50, "static": 0.20,
    "upload": 0.45, "full": 0.30, "large": 0.40, "orig": 0.45,
    "thumb": -0.60, "icon": -0.70, "logo": -0.50, "sprite": -0.60,
    "button": -0.55, "pixel": -0.65, "css": -0.80, "badge": -0.45,
}

_NGRAM_WEIGHT_ORDER = sorted(NGRAM_WEIGHTS)  # fixed summation order


def ngram_score_one(url: str) -> float:
    """Classifier-1 score: left-to-right sum of matched gram weights in
    fixed lexicographic gram order (never set-iteration order), so the
    float is identical across engines, batches and the oracle."""
    grams = url_ngrams_one(url if url is not None else "")
    acc = 0.0
    for g in _NGRAM_WEIGHT_ORDER:
        if g in grams:
            acc += NGRAM_WEIGHTS[g]
    return acc


def dual_model_big_one(url: str, priority: float) -> bool:
    """The reference arbitration, verbatim over the two deterministic
    scores: class = score above the model's decision boundary (0 for
    the n-gram sum, 0.5 for the priority scorer)."""
    import math
    s1 = ngram_score_one(url)
    c1 = s1 > 0.0
    c2 = priority > 0.5
    if c1 == c2:
        return c1
    d1 = round(abs(math.tanh(s1)), 6)
    d2 = round(abs(math.tanh(priority - 0.5)), 6)
    return c1 if d1 + DUAL_EPSILON > d2 else c2


def dual_model_big_batch(urls: pd.Series, priorities: pd.Series) -> pd.Series:
    """Vectorized-enough batch form for the Arrow UDF: gram scores are
    computed once per DISTINCT url (crawl batches repeat URLs heavily),
    the arbitration itself is branch-free numpy."""
    codes, uniques = pd.factorize(urls.fillna(""))
    s1_vals = np.array([ngram_score_one(u) for u in uniques],
                       dtype=np.float64) if len(uniques) else np.zeros(0)
    s1 = s1_vals[codes.clip(min=0)] if len(uniques) else np.zeros(len(urls))
    pri = priorities.fillna(0.0).to_numpy(dtype=np.float64)
    c1 = s1 > 0.0
    c2 = pri > 0.5
    d1 = np.round(np.abs(np.tanh(s1)), 6)
    d2 = np.round(np.abs(np.tanh(pri - 0.5)), 6)
    out = np.where(c1 == c2, c1, np.where(d1 + DUAL_EPSILON > d2, c1, c2))
    return pd.Series(out.astype(bool), index=urls.index)
