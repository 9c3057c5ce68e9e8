"""URL canonicalization, filtering and host/domain extraction.

Reimplements (from public Apache Nutch semantics, not code):
  - BasicURLNormalizer (reference
    src/plugin/urlnormalizer-basic/.../BasicURLNormalizer.java:91-267):
    lowercase scheme+host, strip default port, drop #fragment, empty
    path → "/", resolve "/./", "/../", "//", RFC3986 percent-encoding
    canonicalization (unescape unreserved chars, uppercase retained
    escapes, escape control chars and [ ]).
  - RegexURLFilter default rules (reference
    conf/regex-urlfilter.txt.template): reject file:/ftp:/mailto:,
    media/binary extensions, URLs containing [?*!@=], repeated path
    segments (loop traps).
  - URLUtil host/domain helpers (reference util/URLUtil.java:94-128).

All exposed as **vectorized pandas UDFs** (Arrow-batched) per the
input_hint "no per-row Python" requirement — the per-element work runs
inside one Arrow batch in a tight Python loop with a fast-path mask, not
as row-at-a-time Spark UDFs.
"""

from __future__ import annotations

import re
from urllib.parse import urlsplit

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_PORTS = {"http": 80, "https": 443, "ftp": 21}

# RFC3986 unreserved: ALPHA / DIGIT / - . _ ~
_UNRESERVED = set(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)
_PCT_RE = re.compile(r"%([0-9A-Fa-f]{2})")
_NORMALIZABLE_PATH_RE = re.compile(r"/[./]|[.]/|/\Z|//")
# fast-path: URL already canonical if it matches this shape and has no
# percent-escapes, dots segments, fragments, upper-case scheme/host.
# Explicit ports must start 1-9: a leading-zero port (:080) normalizes
# to a different spelling, so it must NOT pass the identity fast path.
_FAST_OK_RE = re.compile(r"\Ahttps?://[a-z0-9.\-]+(?::[1-9]\d*)?/[^#%\\\s]*\Z")
_FAST_BAD_RE = re.compile(r"/\.|//|\.\./|:80/|:443/")


def _pct_canon(path: str) -> str:
    """Unescape unreserved %XX, uppercase retained escapes, escape ctl/[/]."""

    def repl(m: re.Match) -> str:
        code = int(m.group(1), 16)
        if code < 128 and chr(code) in _UNRESERVED:
            return chr(code)
        return "%" + m.group(1).upper()

    path = _PCT_RE.sub(repl, path)
    out = []
    for b in path.encode("utf-8"):
        if b < 33 or b in (0x5B, 0x5D):  # control/space and [ ]
            out.append("%%%02X" % b)
        else:
            out.append(chr(b))
    return "".join(out)


def _resolve_dots(path: str) -> str:
    """RFC3986 §5.2.4 remove_dot_segments + collapse '//'."""
    segs: list[str] = []
    for seg in path.split("/"):
        if seg == "" or seg == ".":
            continue
        if seg == "..":
            if segs:
                segs.pop()
            # leading /../ dropped (BasicURLNormalizer behavior)
            continue
        segs.append(seg)
    out = "/" + "/".join(segs)
    if path.endswith(("/", "/.", "/..")) and out != "/":
        out += "/"
    return out


def normalize_url(u: str) -> str | None:
    """Canonicalize one URL; None if unparseable. Pure function."""
    if u is None:
        return None
    u = u.strip()
    if u == "":
        return u
    if _FAST_OK_RE.match(u) and not _FAST_BAD_RE.search(u):
        return u
    try:
        parts = urlsplit(u)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if not scheme or parts.hostname is None:
        return None
    host = parts.hostname.lower()
    port = None
    try:
        port = parts.port
    except ValueError:
        return None
    netloc = host
    if port is not None and port != DEFAULT_PORTS.get(scheme):
        netloc = f"{host}:{port}"
    path = parts.path or "/"
    if scheme in ("http", "https", "ftp"):
        if _NORMALIZABLE_PATH_RE.search(path):
            path = _resolve_dots(path)
        if path == "":
            path = "/"
    path = _pct_canon(path)
    query = parts.query
    rebuilt = f"{scheme}://{netloc}{path}"
    if query:
        rebuilt += f"?{query}"
    return rebuilt  # fragment always dropped


def _norm_series(s: pd.Series) -> pd.Series:
    # fast-path mask: most crawl URLs are already canonical
    fast = s.str.match(_FAST_OK_RE, na=False) & ~s.str.contains(
        _FAST_BAD_RE, na=True, regex=True
    )
    out = s.copy()
    slow_idx = s.index[~fast]
    if len(slow_idx):
        out.loc[slow_idx] = [normalize_url(v) for v in s.loc[slow_idx]]
    return out


@F.pandas_udf(T.StringType())
def normalize_urls(s: pd.Series) -> pd.Series:
    return _norm_series(s)


# Marked nondeterministic (it is not) as an evaluate-once barrier: the
# optimizer pushes a downstream filter on the normalized column (e.g.
# accept_urls) through a deterministic projection, which plans a second
# evaluation of the UDF below the filter — in every scan task on top of
# the post-shuffle one. A nondeterministic projection is never pushed
# through, so every reader takes the one computed column.
normalize_urls = normalize_urls.asNondeterministic()


# Java-regex twin of the fast-path pattern, for JVM-side pre-screening.
# This is the ONLY regex on the per-link hot path: inside array lambdas
# Catalyst evaluates expressions interpreted (no whole-stage codegen),
# and every RLike call converts UTF8String→String before matching —
# profiling showed regex eval dominating parse CPU — so everything else
# below uses native contains/startswith/substring ops.
_FAST_OK_J = r"\Ahttps?://[a-z0-9.\-]+(:[1-9]\d*)?/[^#%\\\s]*\Z"


def is_canonical(url_col):
    """JVM predicate: URL already canonical (normalize is identity).

    The scheme's '//' is excluded from the double-slash check by
    testing only the part after '://'. contains() is a native byte
    scan; '/.' also covers '/..' segments."""
    rest = F.substring_index(url_col, "://", -1)
    bad = (
        rest.contains("/.")
        | rest.contains("//")
        | rest.contains(":80/")
        | rest.contains(":443/")
    )
    return url_col.rlike(_FAST_OK_J) & ~bad


def with_normalized(df, src: str, dst: str):
    """Normalize a URL column with a JVM fast path.

    Python UDFs in a `when` branch are still evaluated for every row
    (Spark extracts them into a BatchEvalPython stage), so the hybrid
    is a split-union: canonical rows never leave the JVM; only the
    slow minority crosses into the pandas normalizer. At crawl scale
    ~all outlinks are already canonical, so this keeps the hot path in
    whole-stage codegen.
    """
    fast = df.filter(is_canonical(F.col(src))).withColumn(dst, F.col(src))
    # the slow side is rare by construction — shrink it to a few
    # partitions first so the Arrow python stage pays per-task worker
    # handshakes on 8 tasks, not on every scan partition (measured:
    # ~10 s of pure handshake overhead on an EMPTY slow side at 32
    # tasks × 2 python stages). NULL src makes is_canonical NULL, which
    # both plain filters would drop — coalesce routes those rows to the
    # slow path (normalize(NULL) = NULL) so no row silently vanishes.
    slow = (
        df.filter(~F.coalesce(is_canonical(F.col(src)), F.lit(False)))
        .repartition(8)
        .withColumn(dst, normalize_urls(F.col(src)))
    )
    return fast.unionByName(slow)


# --- filters (regex-urlfilter.txt.template defaults) ---
_SKIP_PROTO_RE = re.compile(r"\A(?:file|ftp|mailto):", re.IGNORECASE)
_SKIP_EXT_RE = re.compile(
    r"\.(?:gif|jpg|jpeg|png|ico|css|sit|eps|wmf|zip|ppt|mpg|xls|gz|rpm|tgz|"
    r"mov|exe|jpeg|bmp|js)\Z",
    re.IGNORECASE,
)
_SKIP_QUERYCHARS_RE = re.compile(r"[?*!@=]")
_LOOP_RE = re.compile(r".*(/[^/]+)/[^/]+\1/[^/]+\1/")


def accept_url(u: str) -> bool:
    """Default Nutch regex-urlfilter decision for one URL."""
    if u is None or u == "":
        return False
    if _SKIP_PROTO_RE.match(u):
        return False
    if _SKIP_QUERYCHARS_RE.search(u):
        return False
    if _SKIP_EXT_RE.search(u):
        return False
    if _LOOP_RE.match(u):
        return False
    return True


_SKIP_EXTS = (
    "gif jpg jpeg png ico css sit eps wmf zip ppt mpg xls gz rpm tgz "
    "mov exe bmp js"
).split()


def accept_urls(url_col):
    """Default regex-urlfilter decision as a pure JVM Column predicate.

    Same decisions as the reference's regex rules, but expressed with
    native string ops wherever possible (this runs per-link inside
    array lambdas where expressions are interpreted, so each regex
    would pay a UTF8String→String conversion + backtracking):
      * proto skip  → lowercase 7-char prefix startswith checks;
      * query chars → five contains scans;
      * media/binary extension → lowercased text after the last '.'
        against a literal set (≙ the case-insensitive \\.(ext)$ rule);
      * path-loop trap → the backreference regex, but only for URLs
        with ≥ 7 slashes (the minimum a /a/x/a/y/a/ loop needs), which
        skips the only backtracking-heavy pattern for ~all URLs."""
    head = F.lower(F.substring(url_col, 1, 7))
    proto_bad = (
        head.startswith("file:") | head.startswith("ftp:")
        | head.startswith("mailto:")
    )
    qchars = (
        url_col.contains("?") | url_col.contains("*") | url_col.contains("!")
        | url_col.contains("@") | url_col.contains("=")
    )
    ext_bad = F.lower(F.substring_index(url_col, ".", -1)).isin(*_SKIP_EXTS)
    slashes = F.length(url_col) - F.length(F.replace(url_col, F.lit("/")))
    loop = (slashes >= 7) & url_col.rlike(r"\A.*(/[^/]+)/[^/]+\1/[^/]+\1/")
    return (
        url_col.isNotNull()
        & (url_col != "")
        & ~proto_bad
        & ~qchars
        & ~ext_bad
        & ~loop
    )


@F.pandas_udf(T.BooleanType())
def accept_urls_pd(s: pd.Series) -> pd.Series:
    ok = s.notna() & (s != "")
    ok &= ~s.str.match(_SKIP_PROTO_RE, na=True)
    ok &= ~s.str.contains(_SKIP_QUERYCHARS_RE, na=True, regex=True)
    ok &= ~s.str.contains(_SKIP_EXT_RE, na=True, regex=True)
    ok &= ~s.str.match(_LOOP_RE, na=True)
    return ok


# --- host / domain extraction (URLUtil.java:94-128) ---
_HOST_RE = re.compile(r"\A[a-z][a-z0-9+.\-]*://([^/:?#]+)", re.IGNORECASE)

# minimal public-suffix table for registered-domain extraction; a full
# suffix list would be broadcast the same way at production scale
_TWO_LEVEL_SUFFIXES = {
    "co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au", "org.au",
    "co.jp", "or.jp", "ne.jp", "com.br", "com.cn", "com.mx", "co.in",
    "co.nz", "co.za",
}


def get_host(u: str) -> str | None:
    if u is None:
        return None
    m = _HOST_RE.match(u)
    if not m:
        return None
    host = m.group(1).lower()
    if "@" in host:
        host = host.rsplit("@", 1)[1]
    return host


def get_domain(host: str) -> str | None:
    """Registered domain via suffix table (URLUtil.getDomainName semantics)."""
    if host is None:
        return None
    parts = host.split(".")
    if len(parts) <= 2:
        return host
    if ".".join(parts[-2:]) in _TWO_LEVEL_SUFFIXES or ".".join(parts[-3:-1]) in _TWO_LEVEL_SUFFIXES:
        # e.g. a.b.co.uk → b.co.uk
        if ".".join(parts[-2:]) in _TWO_LEVEL_SUFFIXES:
            return ".".join(parts[-3:])
    return ".".join(parts[-2:])


def host_of(url_col):
    """Lowercased host as a pure JVM Column expression
    (URLUtil.getHost semantics: scheme://[user@]host[:port]/...)."""
    raw = F.regexp_extract(url_col, r"(?i)\A[a-z][a-z0-9+.\-]*://([^/:?#]+)", 1)
    host = F.element_at(F.split(F.lower(raw), "@"), -1)
    return F.when(raw != "", host)


@F.pandas_udf(T.StringType())
def host_of_pd(s: pd.Series) -> pd.Series:
    ext = s.str.extract(_HOST_RE, expand=False).str.lower()
    return ext.str.rsplit("@", n=1).str[-1]


@F.pandas_udf(T.StringType())
def domain_of(hosts: pd.Series) -> pd.Series:
    return pd.Series([get_domain(h) for h in hosts], index=hosts.index)


def domain_col(host_col):
    """Registered domain as a pure JVM Column expression — same
    decisions as `get_domain`, usable inside array lambdas (pandas UDFs
    are rejected there: UNSUPPORTED_FEATURE.LAMBDA_FUNCTION_WITH_PYTHON_UDF)
    and free of the Arrow python-stage cost on the per-link hot path."""
    parts = F.split(host_col, r"\.")
    n = F.size(parts)
    last2 = F.concat_ws(
        ".", F.element_at(parts, -2), F.element_at(parts, -1)
    )
    last3 = F.concat_ws(
        ".", F.element_at(parts, -3), F.element_at(parts, -2),
        F.element_at(parts, -1),
    )
    return (
        F.when(host_col.isNull(), F.lit(None).cast("string"))
        .when(n <= 2, host_col)
        .when(last2.isin(*sorted(_TWO_LEVEL_SUFFIXES)), last3)
        .otherwise(last2)
    )


def _jsplit_len(s: str, sep: str) -> int:
    """Java String.split length: trailing empty strings removed."""
    parts = s.split(sep)
    while parts and parts[-1] == "":
        parts.pop()
    return len(parts)


def choose_repr(src: str | None, dst: str | None, temp: bool) -> str | None:
    """Representative URL choice on redirect (URLUtil.chooseRepr,
    util/URLUtil.java:325-417; used by FetcherThread.java:463 and
    ParseOutputFormat's redirect datum):

      * cross-domain redirect → destination;
      * permanent: root source keeps the source, otherwise destination;
      * temporary: root beats non-root; same-host non-roots keep the
        shorter path (segment count, then length); different hosts keep
        the shorter subdomain chain.
    """
    if src is None or dst is None:
        return dst
    try:
        sp, dp = urlsplit(src), urlsplit(dst)
    except ValueError:
        return dst
    if not sp.scheme or sp.hostname is None or not dp.scheme or dp.hostname is None:
        return dst
    src_host, dst_host = sp.hostname, dp.hostname
    if get_domain(src_host) != get_domain(dst_host):
        return dst
    src_file = sp.path + (f"?{sp.query}" if sp.query else "")
    dst_file = dp.path + (f"?{dp.query}" if dp.query else "")
    src_root = src_file in ("", "/")
    dst_root = dst_file in ("", "/")
    if not temp:
        return src if src_root else dst
    if src_root and not dst_root:
        return src
    if not src_root and dst_root:
        return dst
    if not src_root and not dst_root and src_host == dst_host:
        n_src, n_dst = _jsplit_len(src_file, "/"), _jsplit_len(dst_file, "/")
        if n_src != n_dst:
            return dst if n_dst < n_src else src
        return dst if len(dst_file) < len(src_file) else src
    n_src = _jsplit_len(src_host, ".")
    n_dst = _jsplit_len(dst_host, ".")
    return dst if n_dst < n_src else src


@F.pandas_udf(T.StringType())
def choose_repr_pd(src: pd.Series, dst: pd.Series, temp: pd.Series) -> pd.Series:
    return pd.Series(
        [choose_repr(s, d, bool(t)) for s, d, t in zip(src, dst, temp)],
        index=src.index,
    )


def url_hash_col(url_col):
    """64-bit URL hash — JVM-side xxhash64, the bloom/ordering key.

    The reference shuffles fetch order inside a host partition by URL
    hash (Generator.HashComparator, Generator.java:399-429); we use the
    same hash as the bloom key and the intra-host fetch order.
    """
    return F.xxhash64(url_col)
