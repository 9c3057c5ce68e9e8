"""URL normalizer/filter plugin parity: scoped chains, regex-rewrite
rules, host aliasing, and the prefix/suffix/domain/validator filters.

Re-expressed from the reference's plugin semantics (not code):

  * Scoped normalizer chains — net/URLNormalizers.java:96-118 defines 9
    scopes (default, partition, generate_host_count, fetcher, crawldb,
    linkdb, inject, outlink, indexer); each scope runs its own ordered
    chain, falling back to the `default` chain, looping up to
    `urlnormalizer.loop.count` times until the URL stops changing.
  * Regex rewrite rules — plugin urlnormalizer-regex +
    conf/regex-normalize.xml.template: ordered Perl5 s///g rules
    (session-id strip, interpage anchors, ?&, && runs, trailing
    junk, file:// collapse, duplicate-slash collapse).
  * Host aliasing — plugin urlnormalizer-host +
    conf/host-urlnormalizer.txt: `host replacement` lines, with
    `*.domain` wildcards.
  * PrefixURLFilter — plugin urlfilter-prefix: accept only URLs
    starting with a listed prefix (PrefixStringMatcher.shortestMatch).
  * SuffixURLFilter — plugin urlfilter-suffix +
    conf/suffix-urlfilter.txt.template: suffix blocklist/allowlist with
    `+/-` mode lines and `I` (ignore case) / `P` (match path only)
    flags (SuffixURLFilter.java:149-235).
  * DomainURLFilter — plugin urlfilter-domain: accept if the URL's
    TLD-suffix, registered domain, or host is listed; empty list
    accepts all (DomainURLFilter.java:182-211, NUTCH-2189). The
    blacklist variant (urlfilter-domainblacklist) inverts the verdict.
  * ValidatorURLFilter — plugin urlfilter-validator: syntactic URL
    validation (scheme, authority labels, legal characters).
  * AjaxURLNormalizer — plugin urlnormalizer-ajax: #! ↔
    _escaped_fragment_= rewrites (AjaxURLNormalizer.java:58-219).
  * ProtocolURLNormalizer — plugin urlnormalizer-protocol: per-host
    protocol forcing (ProtocolURLNormalizer.java:98-130).
  * QuerystringURLNormalizer — plugin urlnormalizer-querystring:
    query-parameter sort (QuerystringURLNormalizer.java:44-76).
  * SlashURLNormalizer — plugin urlnormalizer-slash: per-host
    trailing-slash policy (SlashURLNormalizer.java:104-170).
  * PassURLNormalizer — plugin urlnormalizer-pass: identity.
  * Regex/automaton rule filter — plugins urlfilter-regex and
    urlfilter-automaton share the ±ordered-rule grammar
    (RegexURLFilterBase.java:245-272), exposed as RegexRuleFilter.
  * URL exemption — net/URLExemptionFilters.java + plugin
    urlfilter-ignoreexempt: URLs matching exemption rules bypass the
    ignore-external restriction (used from ParseOutputFormat.java:356-358);
    exposed here as `ExemptionRules` consumed by operators/parse.py.

Execution notes: chains and filters are plain-python predicates over
strings, exposed as Arrow-batched pandas UDFs for DataFrame use. They
belong on the SLOW path (seed prep, outlink slow path, readdb dumps) —
the hot parse path keeps its pure-Column fast predicates and only rows
that fail the canonical fast check reach these.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Callable

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .urls import get_domain, get_host, normalize_url

# ---------------------------------------------------------------------
# regex normalizer (urlnormalizer-regex)
# ---------------------------------------------------------------------

# conf/regex-normalize.xml.template active rules, in file order;
# substitutions translated Perl5 $N → python \N.
REGEX_NORMALIZE_DEFAULT_RULES: list[tuple[str, str]] = [
    # strip session ids (sid/phpsessid/sessionid, optional l/j/bv_ prefix)
    (r"(?i)(;?\b_?(l|j|bv_)?(sid|phpsessid|sessionid)=.*?)(\?|&|#|$)", r"\4"),
    # remove interpage href anchors such as page#anchor
    (r"#.*?(\?|&|$)", r"\1"),
    # cleanup '?&' after sessionid removal
    (r"\?&", "?"),
    # collapse runs of '&&'
    (r"&{2,}", "&"),
    # strip trailing '?', '&' or '.'
    (r"[?&.]$", ""),
    # normalize file:// prefix
    (r"^file://+", "file:/"),
    # collapse duplicate slashes not preceded by ':'
    (r"(?<!:)/{2,}", "/"),
]


class RegexNormalizer:
    """Ordered s///g rewrite rules (RegexURLNormalizer semantics)."""

    def __init__(self, rules: list[tuple[str, str]] | None = None):
        src = REGEX_NORMALIZE_DEFAULT_RULES if rules is None else rules
        self._rules = [(re.compile(p), s) for p, s in src]

    def __call__(self, url: str | None) -> str | None:
        if url is None:
            return None
        for pat, sub in self._rules:
            url = pat.sub(sub, url)
        return url

    def series(self, s: pd.Series) -> pd.Series:
        """Vectorized: one whole-Series s///g pass PER RULE — a loop
        over ~7 ordered rules instead of a Python call per URL
        (`Series.str.replace` runs the same `re.sub`)."""
        for pat, sub in self._rules:
            s = s.str.replace(pat, sub, regex=True)
        return s


def parse_host_rules(text: str) -> tuple[dict, dict]:
    """conf/host-urlnormalizer.txt lines: `host replacement`;
    `*.domain replacement` rewrites every subdomain of `domain`."""
    exact: dict[str, str] = {}
    wildcard: dict[str, str] = {}
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        parts = line.split()
        if len(parts) != 2:
            continue
        src, dst = parts
        if src.startswith("*."):
            wildcard[src[2:].lower()] = dst.lower()
        else:
            exact[src.lower()] = dst.lower()
    return exact, wildcard


_HOST_SPLIT_RE = re.compile(r"(\A[a-z][a-z0-9+.\-]*://)([^/:?#]+)(.*)\Z", re.I)


class HostNormalizer:
    """Rename hosts to canonical spellings (urlnormalizer-host)."""

    def __init__(self, exact: dict[str, str], wildcard: dict[str, str] | None = None):
        self.exact = {k.lower(): v for k, v in exact.items()}
        self.wildcard = {k.lower(): v for k, v in (wildcard or {}).items()}

    @classmethod
    def from_rules(cls, text: str) -> "HostNormalizer":
        return cls(*parse_host_rules(text))

    def __call__(self, url: str | None) -> str | None:
        if url is None:
            return None
        m = _HOST_SPLIT_RE.match(url)
        if not m:
            return url
        scheme, host, rest = m.groups()
        h = host.lower()
        if h in self.exact:
            return scheme + self.exact[h] + rest
        parts = h.split(".")
        for i in range(1, len(parts)):
            dom = ".".join(parts[i:])
            if dom in self.wildcard:
                return scheme + self.wildcard[dom] + rest
        return url

    def series(self, s: pd.Series) -> pd.Series:
        """Vectorized: extract hosts once, resolve each DISTINCT host
        through the rule maps (crawl batches have few hosts relative to
        URLs), rebuild only the rows whose host changed."""
        ext = s.str.extract(_HOST_SPLIT_RE)
        host = ext[1].str.lower()
        uniq = host.dropna().unique()
        repl = {}
        for h in uniq:
            if h in self.exact:
                repl[h] = self.exact[h]
                continue
            parts = h.split(".")
            for i in range(1, len(parts)):
                dom = ".".join(parts[i:])
                if dom in self.wildcard:
                    repl[h] = self.wildcard[dom]
                    break
        if not repl:
            return s
        new_host = host.map(repl)
        mask = new_host.notna()
        out = s.copy()
        out[mask] = ext[0][mask] + new_host[mask] + ext[2][mask]
        return out


# ---------------------------------------------------------------------
# ajax / protocol / querystring / slash / pass normalizers
# ---------------------------------------------------------------------

_URL_PARTS_RE = re.compile(
    r"\A([a-z][a-z0-9+.\-]*)://([^/:?#]+)(:\d+)?([^?#]*)(?:\?([^#]*))?"
    r"(?:#(.*))?\Z",
    re.I | re.S,
)


def _split_url(url: str):
    """(scheme, host, port-with-colon|'', path, query|None, ref|None) —
    the java.net.URL accessor set the reference normalizers use."""
    m = _URL_PARTS_RE.match(url)
    if not m:
        return None
    scheme, host, port, path, query, ref = m.groups()
    return scheme, host, port or "", path, query, ref


AJAX_URL_PART = "#!"
ESCAPED_URL_PART = "_escaped_fragment_="


class AjaxNormalizer:
    """AJAX-crawling-scheme rewrite (urlnormalizer-ajax,
    AjaxURLNormalizer.java:58-146): `#!fragment` becomes the crawlable
    `?_escaped_fragment_=fragment` form; in the INDEXER scope the
    escaped form is folded back to `#!`. The reference switches on the
    scope string — here register `AjaxNormalizer(indexer=True)` on the
    indexer chain and the default instance elsewhere."""

    def __init__(self, indexer: bool = False):
        self.indexer = indexer

    def __call__(self, url: str | None) -> str | None:
        if url is None:
            return None
        if self.indexer and ESCAPED_URL_PART in url:
            return self._escaped_to_hashed(url)
        if AJAX_URL_PART in url:
            return self._hashed_to_escaped(url)
        return url

    def series(self, s: pd.Series) -> pd.Series:
        """Vectorized pre-screen: AJAX-scheme URLs are rare — only rows
        containing '#!' (or the escaped marker) pay the Python rewrite."""
        cand = s.str.contains(AJAX_URL_PART, regex=False, na=False)
        if self.indexer:
            cand |= s.str.contains(ESCAPED_URL_PART, regex=False, na=False)
        if not cand.any():
            return s
        out = s.copy()
        out[cand] = [self(v) for v in s[cand]]
        return out

    @staticmethod
    def _escape(frag: str) -> str:
        # AjaxURLNormalizer.escape (java:191-219): UTF-8 bytes < 33 and
        # the four chars #%&+ become %XX (uppercase); all else literal
        out = []
        for b in frag.encode("utf-8"):
            if b < 33 or b in (0x23, 0x25, 0x26, 0x2B):
                out.append(f"%{b:02X}")
            else:
                out.append(chr(b))
        return "".join(out)

    @classmethod
    def _hashed_to_escaped(cls, url: str) -> str:
        parts = _split_url(url)
        pos = url.index(AJAX_URL_PART)
        frag = cls._escape(url[pos + len(AJAX_URL_PART):])
        sep = "?" if parts is None or parts[4] is None else "&"
        return url[:pos] + sep + ESCAPED_URL_PART + frag

    @staticmethod
    def _escaped_to_hashed(url: str) -> str:
        from urllib.parse import unquote_plus  # noqa: PLC0415

        parts = _split_url(url)
        if parts is None or parts[4] is None:
            return url
        scheme, host, port, path, query, _ref = parts
        # the reference treats everything after the FIRST '&' as the
        # escaped pair (AjaxURLNormalizer.java:123-136) — kept as-is
        amp = query.find("&")
        if amp == -1:
            kv, query = query, ""
        else:
            kv, query = query[amp + 1:], query[:amp]
        kv = kv.replace(ESCAPED_URL_PART, "", 1)
        out = f"{scheme}://{host}{port}{path}"
        if query:
            out += "?" + query
        return out + AJAX_URL_PART + unquote_plus(kv)


class ProtocolNormalizer:
    """Force a per-host protocol (urlnormalizer-protocol,
    ProtocolURLNormalizer.java:98-130). Rules: `host protocol` lines.
    Faithful to the reference rebuild, which drops port and fragment."""

    def __init__(self, protocols: dict[str, str]):
        self.protocols = {k.lower(): v for k, v in protocols.items()}

    @classmethod
    def from_rules(cls, text: str) -> "ProtocolNormalizer":
        rules: dict[str, str] = {}
        for line in text.splitlines():
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            parts = line.split(None, 1)
            if len(parts) == 2:
                rules[parts[0]] = parts[1].strip()
        return cls(rules)

    def __call__(self, url: str | None) -> str | None:
        if url is None:
            return None
        parts = _split_url(url)
        if parts is None:
            return url
        scheme, host, _port, path, query, _ref = parts
        want = self.protocols.get(host.lower())
        if want is None or want == scheme:
            return url
        out = f"{want}://{host}{path}"
        if query is not None:
            out += "?" + query
        return out

    def series(self, s: pd.Series) -> pd.Series:
        """Vectorized pre-screen: only rows whose host has a protocol
        rule pay the Python rebuild."""
        if not self.protocols:
            return s
        host = (
            s.str.extract(_HOST_SPLIT_RE)[1].str.lower()
        )
        cand = host.isin(self.protocols.keys())
        if not cand.any():
            return s
        out = s.copy()
        out[cand] = [self(v) for v in s[cand]]
        return out


class QuerystringNormalizer:
    """Sort query-string parameters so permutations collapse to one URL
    (urlnormalizer-querystring, QuerystringURLNormalizer.java:44-76)."""

    def __call__(self, url: str | None) -> str | None:
        if url is None:
            return None
        parts = _split_url(url)
        if parts is None or parts[4] is None:
            return url
        scheme, host, port, path, query, ref = parts
        out = f"{scheme}://{host}{port}{path}?" + "&".join(
            sorted(query.split("&"))
        )
        if ref is not None:
            out += "#" + ref
        return out

    def series(self, s: pd.Series) -> pd.Series:
        """Vectorized pre-screen: a sort can only change URLs with ≥ 2
        query parameters — only `?…&` rows pay the Python rebuild."""
        cand = s.str.contains(r"\?[^#]*&", regex=True, na=False)
        if not cand.any():
            return s
        out = s.copy()
        out[cand] = [self(v) for v in s[cand]]
        return out


class SlashNormalizer:
    """Per-host trailing-slash policy (urlnormalizer-slash,
    SlashURLNormalizer.java:104-170). Rules: `host +` (require slash) /
    `host -` (strip slash). Root paths are untouched; a slash is only
    ADDED when the path's last 5 chars carry no .ext suffix. Faithful
    rebuild (port and fragment dropped, as in the reference)."""

    def __init__(self, rules: dict[str, bool]):
        self.rules = {k.lower(): v for k, v in rules.items()}

    @classmethod
    def from_rules(cls, text: str) -> "SlashNormalizer":
        rules: dict[str, bool] = {}
        for line in text.splitlines():
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            parts = line.split(None, 1)
            if len(parts) == 2:
                rules[parts[0]] = parts[1].strip() == "+"
        return cls(rules)

    def __call__(self, url: str | None) -> str | None:
        if url is None:
            return None
        parts = _split_url(url)
        if parts is None:
            return url
        scheme, host, _port, path, query, _ref = parts
        rule = self.rules.get(host.lower())
        if rule is None or len(path) <= 1:
            return url
        trailing = path.endswith("/")
        if rule and not trailing:
            dot = path.rfind(".")
            if len(path) < 6 or dot == -1 or dot < len(path) - 6:
                path = path + "/"
            else:
                return url
        elif not rule and trailing:
            path = path[: path.rfind("/")]
        else:
            return url
        out = f"{scheme}://{host}{path}"
        if query is not None:
            out += "?" + query
        return out

    def series(self, s: pd.Series) -> pd.Series:
        """Vectorized pre-screen: only rows whose host has a slash rule
        pay the Python rebuild."""
        if not self.rules:
            return s
        host = s.str.extract(_HOST_SPLIT_RE)[1].str.lower()
        cand = host.isin(self.rules.keys())
        if not cand.any():
            return s
        out = s.copy()
        out[cand] = [self(v) for v in s[cand]]
        return out


def pass_normalizer(url: str | None) -> str | None:
    """urlnormalizer-pass: the identity chain element."""
    return url


pass_normalizer.series = lambda s: s  # vectorized identity


# ---------------------------------------------------------------------
# scoped chains (net/URLNormalizers.java)
# ---------------------------------------------------------------------

SCOPE_DEFAULT = "default"
SCOPE_PARTITION = "partition"
SCOPE_GENERATE_HOST_COUNT = "generate_host_count"
SCOPE_FETCHER = "fetcher"
SCOPE_CRAWLDB = "crawldb"
SCOPE_LINKDB = "linkdb"
SCOPE_INJECT = "inject"
SCOPE_OUTLINK = "outlink"
SCOPE_INDEXER = "indexer"

NormFn = Callable[[str | None], str | None]


def _series_fn(fn: NormFn) -> Callable[[pd.Series], pd.Series]:
    """Resolve a chain member's vectorized form: its own `series`
    method, the basic normalizer's masked fast path, or a per-row map
    (None stays None throughout, like the per-row chain)."""
    if hasattr(fn, "series"):
        return fn.series
    if fn is normalize_url:
        from .urls import _norm_series

        return _norm_series

    def _rowwise(s: pd.Series) -> pd.Series:
        return pd.Series(
            [None if v is None else fn(v) for v in s],
            index=s.index, dtype=object,
        )

    return _rowwise


@dataclass
class ScopedNormalizers:
    """Per-scope ordered normalizer chains with default-scope fallback
    and the reference's change-driven loop (urlnormalizer.loop.count).

    The basic normalizer is always the default chain unless overridden;
    register scope-specific chains like the plugin `.scope` properties:

        sn = ScopedNormalizers()
        sn.set_chain(SCOPE_OUTLINK, [RegexNormalizer(), normalize_url])
    """

    chains: dict[str, list[NormFn]] = field(default_factory=dict)
    loop_count: int = 1

    def __post_init__(self):
        self.chains.setdefault(SCOPE_DEFAULT, [normalize_url])

    def set_chain(self, scope: str, chain: list[NormFn]) -> None:
        self.chains[scope] = list(chain)

    def chain_for(self, scope: str) -> list[NormFn]:
        return self.chains.get(scope, self.chains[SCOPE_DEFAULT])

    def normalize(self, url: str | None, scope: str = SCOPE_DEFAULT) -> str | None:
        chain = self.chain_for(scope)
        for _ in range(max(1, self.loop_count)):
            before = url
            for fn in chain:
                if url is None:
                    return None
                url = fn(url)
            if url == before:  # fixed point reached — stop early
                break
        return url

    def apply_series(self, s: pd.Series, scope: str = SCOPE_DEFAULT) -> pd.Series:
        """Vectorized chain application: each member normalizes the
        WHOLE batch (its `series` method runs per-rule Series ops or a
        masked-subset Python fallback); members without one fall back
        to a per-row map. The change-driven loop runs at batch level —
        identical semantics to the reference's per-URL loop, because
        re-applying the chain to an already-fixed URL is a no-op, so
        iterating until the whole batch is fixed (≤ loop_count) gives
        every row exactly its per-row fixed point."""
        chain = [_series_fn(fn) for fn in self.chain_for(scope)]
        for _ in range(max(1, self.loop_count)):
            before = s
            for fn in chain:
                s = fn(s)
            if s.equals(before):  # all rows at their fixed point
                break
        return s

    def udf(self, scope: str = SCOPE_DEFAULT):
        """Arrow-batched pandas UDF applying this scope's chain."""

        def _apply(s: pd.Series) -> pd.Series:
            return self.apply_series(s, scope)

        return F.pandas_udf(_apply, T.StringType())

    def with_normalized(self, df, src: str, dst: str, scope: str = SCOPE_DEFAULT):
        # nondeterministic = evaluate once (see urls.normalize_urls)
        udf = self.udf(scope).asNondeterministic()
        return df.withColumn(dst, udf(F.col(src)))


# ---------------------------------------------------------------------
# filters (urlfilter-prefix / -suffix / -domain / -validator)
# ---------------------------------------------------------------------


class PrefixFilter:
    """Accept only URLs starting with a listed prefix."""

    def __init__(self, prefixes: list[str]):
        self.prefixes = tuple(prefixes)

    @classmethod
    def from_rules(cls, text: str) -> "PrefixFilter":
        return cls(
            [
                ln.strip()
                for ln in text.splitlines()
                if ln.strip() and not ln.startswith("#")
            ]
        )

    def __call__(self, url: str | None) -> bool:
        return url is not None and url.startswith(self.prefixes)

    def series(self, s: pd.Series) -> pd.Series:
        return s.str.startswith(self.prefixes, na=False)

    def column(self, url_col):
        """Pure-JVM predicate (usable inside array lambdas)."""
        out = F.lit(False)
        for p in self.prefixes:
            out = out | url_col.startswith(p)
        return url_col.isNotNull() & out


_PATH_RE = re.compile(r"\A[a-z][a-z0-9+.\-]*://[^/?#]*([^?#]*)", re.I)


class SuffixFilter:
    """Suffix allow/block list with I (ignore case) / P (path only)
    flags — SuffixURLFilter.java:149-235. mode_accept=False (default,
    a `-` mode line): a suffix MATCH accepts; mode_accept=True (`+`):
    a match rejects — the template is `+I +P` + media extensions, i.e.
    a case-insensitive path-suffix blocklist."""

    def __init__(self, suffixes: list[str], mode_accept: bool = False,
                 filter_from_path: bool = False, ignore_case: bool = False):
        self.ignore_case = ignore_case
        self.filter_from_path = filter_from_path
        self.mode_accept = mode_accept
        self.suffixes = tuple(
            s.lower() for s in suffixes
        ) if ignore_case else tuple(suffixes)

    @classmethod
    def from_rules(cls, text: str) -> "SuffixFilter":
        suffixes: list[str] = []
        allow = False
        from_path = False
        ignore = False
        for raw in text.splitlines():
            line = raw.strip()
            if not line or line[0] in "# \n":
                continue
            if line[0] in "+-":
                allow = line[0] == "+"
                from_path = from_path or "P" in line
                ignore = ignore or "I" in line
            else:
                suffixes.append(line)
        return cls(suffixes, allow, from_path, ignore)

    def __call__(self, url: str | None) -> bool:
        if url is None:
            return False
        u = url.lower() if self.ignore_case else url
        if self.filter_from_path:
            m = _PATH_RE.match(u)
            if m:
                u = m.group(1)
        matched = u.endswith(self.suffixes) if self.suffixes else False
        # reference truth table (SuffixURLFilter.java:166-177):
        #   mode_accept (+): accept iff NO suffix matched (blocklist)
        #   default    (-): accept iff a suffix matched (allowlist);
        #                   empty list ⇒ reject everything
        return (not matched) if self.mode_accept else matched

    def series(self, s: pd.Series) -> pd.Series:
        u = s.str.lower() if self.ignore_case else s
        if self.filter_from_path:
            path = u.str.extract(_PATH_RE, expand=False)
            u = path.where(path.notna(), u)
        matched = (
            u.str.endswith(self.suffixes, na=False)
            if self.suffixes
            else pd.Series(False, index=s.index)
        )
        out = ~matched if self.mode_accept else matched
        return out & s.notna()

    def column(self, url_col):
        """Pure-JVM predicate; same decisions as __call__."""
        u = F.lower(url_col) if self.ignore_case else url_col
        if self.filter_from_path:
            # regexp_extract returns '' both for no-match and an empty
            # group; the per-row code keeps the whole string on
            # no-match, so gate on a scheme check first. (?i) mirrors
            # _PATH_RE's IGNORECASE — with ignore_case=False, u keeps
            # its original case and an uppercase scheme (HTTP://) must
            # still path-match here exactly as it does in __call__.
            is_url = u.rlike(r"(?i)\A[a-z][a-z0-9+.\-]*://")
            u = F.when(
                is_url,
                F.regexp_extract(
                    u, r"(?i)\A[a-z][a-z0-9+.\-]*://[^/?#]*([^?#]*)", 1
                ),
            ).otherwise(u)
        matched = F.lit(False)
        for sfx in self.suffixes:
            matched = matched | u.endswith(sfx)
        out = ~matched if self.mode_accept else matched
        return url_col.isNotNull() & out


class DomainFilter:
    """Accept if TLD-suffix, registered domain, or host is listed;
    empty list accepts everything (NUTCH-2189). blacklist=True inverts
    (urlfilter-domainblacklist)."""

    def __init__(self, domains: list[str], blacklist: bool = False):
        self.domains = {d.strip().lower() for d in domains if d.strip()}
        self.blacklist = blacklist

    @classmethod
    def from_rules(cls, text: str, blacklist: bool = False) -> "DomainFilter":
        return cls(
            [
                ln
                for ln in text.splitlines()
                if ln.strip() and not ln.startswith("#")
            ],
            blacklist,
        )

    def _listed(self, url: str) -> bool:
        host = get_host(url)
        if host is None:
            return False
        domain = get_domain(host) or host
        suffix = domain.split(".", 1)[1] if "." in domain else domain
        return (
            suffix in self.domains
            or domain in self.domains
            or host in self.domains
        )

    def __call__(self, url: str | None) -> bool:
        if url is None:
            return False
        if not self.domains:
            return True  # empty list: accept all (NUTCH-2189)
        listed = self._listed(url)
        return not listed if self.blacklist else listed

    def series(self, s: pd.Series) -> pd.Series:
        """Vectorized: extract hosts once, decide each DISTINCT host
        through the per-row logic (few hosts vs many URLs)."""
        notna = s.notna()
        if not self.domains:
            return notna
        from .urls import _HOST_RE, get_domain

        host = s.str.extract(_HOST_RE, expand=False).str.lower()
        host = host.str.rsplit("@", n=1).str[-1]

        def _host_listed(h) -> bool:
            if h is None or h != h:  # None / NaN
                return False
            domain = get_domain(h) or h
            suffix = domain.split(".", 1)[1] if "." in domain else domain
            return (
                suffix in self.domains
                or domain in self.domains
                or h in self.domains
            )

        verdict = {h: _host_listed(h) for h in host.dropna().unique()}
        listed = host.map(verdict).eq(True)  # NaN hosts → False
        out = ~listed if self.blacklist else listed
        return out & notna

    def column(self, url_col):
        """Pure-JVM predicate: host/registered-domain/suffix isin the
        listed set — keeps a domain-filtered parse on the fast array
        path (no pandas stage, no forced explode)."""
        from .urls import domain_col, host_of

        if not self.domains:
            return url_col.isNotNull()
        host = host_of(url_col)
        domain = F.coalesce(domain_col(host), host)
        dot = F.instr(domain, ".")
        suffix = F.when(
            dot > 0,
            F.substring(domain, dot + F.lit(1), F.length(domain)),
        ).otherwise(domain)
        doms = sorted(self.domains)
        listed = (
            F.coalesce(suffix.isin(*doms), F.lit(False))
            | F.coalesce(domain.isin(*doms), F.lit(False))
            | F.coalesce(host.isin(*doms), F.lit(False))
        )
        out = ~listed if self.blacklist else listed
        return url_col.isNotNull() & host.isNotNull() & out


_VALID_URL_RE = re.compile(
    r"\A(?:https?|ftp)://"
    r"(?:[A-Za-z0-9](?:[A-Za-z0-9\-]{0,61}[A-Za-z0-9])?)"
    r"(?:\.[A-Za-z0-9](?:[A-Za-z0-9\-]{0,61}[A-Za-z0-9])?)*"
    r"(?::\d{1,5})?"
    r"(?:/[A-Za-z0-9\-._~%!$&'()*+,;=:@/]*)?"
    r"(?:\?[A-Za-z0-9\-._~%!$&'()*+,;=:@/?]*)?\Z"
)


class ValidatorFilter:
    """Syntactic URL validation (urlfilter-validator semantics: scheme,
    authority label shape, legal characters)."""

    def __call__(self, url: str | None) -> bool:
        return url is not None and _VALID_URL_RE.match(url) is not None

    def series(self, s: pd.Series) -> pd.Series:
        return s.str.match(_VALID_URL_RE, na=False)

    def column(self, url_col):
        # \A..\Z anchors are valid Java regex; rlike(find) + anchors
        # ≙ fullmatch
        return url_col.isNotNull() & url_col.rlike(_VALID_URL_RE.pattern)


class RegexRuleFilter:
    """Ordered `+regex` / `-regex` rule list — the shared grammar of
    urlfilter-regex and urlfilter-automaton (lib-regex-filter,
    RegexURLFilterBase.java:245-272): the FIRST rule whose pattern
    matches (java.util.regex `find` semantics) decides accept(+)/
    reject(-); a URL matching no rule is rejected. The automaton
    plugin runs the same truth table over dk.brics DFAs — a strict
    regex subset (no backreferences/lookaround), so any automaton rule
    file is also a valid input here; `python -c "import re"` patterns
    are the superset."""

    def __init__(self, rules: list[tuple[bool, str]]):
        self._rules = [(sign, re.compile(p)) for sign, p in rules]

    @classmethod
    def from_rules(cls, text: str) -> "RegexRuleFilter":
        rules: list[tuple[bool, str]] = []
        for raw in text.splitlines():
            line = raw.strip()
            if not line or line.startswith("#"):
                continue
            if line[0] in "+-":
                rules.append((line[0] == "+", line[1:]))
        return cls(rules)

    def __call__(self, url: str | None) -> bool:
        if url is None:
            return False
        for sign, pat in self._rules:
            if pat.search(url):
                return sign
        return False

    def series(self, s: pd.Series) -> pd.Series:
        """Vectorized first-match-wins: one whole-Series contains() PER
        RULE, masking already-decided rows out of later rules."""
        import warnings

        out = pd.Series(False, index=s.index)
        undecided = s.notna()
        for sign, pat in self._rules:
            if not undecided.any():
                break
            with warnings.catch_warnings():
                # rule patterns may legitimately contain capture groups
                # (backreferences forbid a blanket (?: rewrite); we only
                # test membership, so pandas' "has match groups" hint
                # does not apply
                warnings.filterwarnings(
                    "ignore", message=".*has match groups.*",
                    category=UserWarning,
                )
                hit = undecided & s.str.contains(pat, na=False, regex=True)
            if sign:
                out |= hit
            undecided &= ~hit
        return out

    def column(self, url_col):
        """First-match-wins as a when() cascade of rlike's. Rule
        patterns are authored/validated against Python `re`, while
        rlike evaluates java.util.regex — so this compiled form is
        only offered for patterns PROVEN to mean the same thing in
        both dialects: each must survive a JVM Pattern.compile (named
        groups like ``(?P<x>…)`` are Python-only syntax and would
        otherwise raise at job execution, not build time) and must
        avoid escapes whose semantics diverge (``\\d``/``\\w``/… are
        Unicode classes in Python but ASCII in Java; ``\\Z`` permits a
        final newline in Java). Any other pattern raises
        ChainNotCompilable and the chain stays on the pandas-UDF path,
        which is always authoritative. The reference's shipped rule
        files (regex-urlfilter.txt.template, automaton rules — a
        strict subset of both dialects) all compile."""
        for _sign, pat in self._rules:
            if _dialect_divergent(pat.pattern) or not _java_regex_ok(
                pat.pattern
            ):
                raise ChainNotCompilable(pat.pattern)
        out = F.lit(False)
        for sign, pat in reversed(self._rules):
            out = F.when(url_col.rlike(pat.pattern), F.lit(sign)).otherwise(
                out
            )
        return url_col.isNotNull() & out


class ChainNotCompilable(Exception):
    """A filter's pattern cannot be proven equivalent under
    java.util.regex — the chain must stay on the pandas-UDF path."""


# Escapes whose meaning differs between Python re and java.util.regex:
# \d/\w/\s (and negations) are Unicode classes in Python but ASCII in
# Java, \b/\B word boundaries inherit that difference, and Java's \Z
# tolerates a trailing newline where Python's does not.
_DIVERGENT_ESCAPES = frozenset("dDwWsSbBZ")


def _dialect_divergent(pattern: str) -> bool:
    """True if `pattern` uses an escape with different Python/Java
    semantics (escape-state-aware: ``\\\\d`` is a literal backslash
    followed by 'd', not a digit class)."""
    i = 0
    n = len(pattern)
    while i < n - 1:
        if pattern[i] == "\\":
            if pattern[i + 1] in _DIVERGENT_ESCAPES:
                return True
            i += 2
        else:
            i += 1
    return False


_JAVA_REGEX_CACHE: dict[str, bool] = {}


def _java_regex_ok(pattern: str) -> bool:
    """True iff java.util.regex accepts `pattern` — checked against the
    live JVM's Pattern.compile so a Python-valid/Java-invalid pattern
    is caught at plan-build time (and routed to the UDF path) instead
    of raising mid-job. No active JVM ⇒ not provable ⇒ False."""
    cached = _JAVA_REGEX_CACHE.get(pattern)
    if cached is not None:
        return cached
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None or getattr(spark, "_jvm", None) is None:
        return False
    try:
        spark._jvm.java.util.regex.Pattern.compile(pattern)
        ok = True
    except Exception:
        ok = False
    _JAVA_REGEX_CACHE[pattern] = ok
    return ok


class FilterChain:
    """Ordered filter conjunction — URLFilters.filter: the first filter
    returning null rejects the URL."""

    def __init__(self, filters: list[Callable[[str | None], bool]]):
        self.filters = list(filters)

    def __call__(self, url: str | None) -> bool:
        return all(f(url) for f in self.filters)

    def apply_series(self, s: pd.Series) -> pd.Series:
        """Vectorized conjunction: each member votes on the whole batch
        (its `series` method), short-circuiting rows already rejected;
        members without one fall back to a per-row map over the still-
        accepted subset."""
        ok = s.notna()
        for f in self.filters:
            if not ok.any():
                break
            if hasattr(f, "series"):
                ok &= f.series(s)
            else:
                sub = s[ok]
                ok[ok] = pd.Series(
                    [f(v) for v in sub], index=sub.index, dtype=bool
                )
        return ok

    def udf(self):
        def _apply(s: pd.Series) -> pd.Series:
            return self.apply_series(s)

        return F.pandas_udf(_apply, T.BooleanType())

    def column_or_none(self, url_col):
        """Compile the whole chain to ONE pure-JVM Column predicate, or
        None if any member has no `column` form. A compiled chain stays
        inside whole-stage codegen and — crucially — is legal inside
        array lambdas, so a filtered parse keeps the fast array path
        instead of paying the explode→pandas→window slow pipeline."""
        out = url_col.isNotNull()
        for f in self.filters:
            col = getattr(f, "column", None)
            if col is None:
                return None
            try:
                c = col(url_col)
            except ChainNotCompilable:
                return None
            out = out & F.coalesce(c, F.lit(False))
        return out


def filter_pred(url_filters, url_col):
    """Best predicate form for a filter chain: the compiled pure-JVM
    Column when every member supports it, else the vectorized pandas
    UDF. Callers pass the chain and the URL Column; nulls are False."""
    compile_ = getattr(url_filters, "column_or_none", None)
    if compile_ is not None:
        c = compile_(url_col)
        if c is not None:
            return F.coalesce(c, F.lit(False))
    return url_filters.udf()(url_col)


# ---------------------------------------------------------------------
# exemption rules (URLExemptionFilters / urlfilter-ignoreexempt)
# ---------------------------------------------------------------------


class ExemptionRules:
    """Regex rules exempting target URLs from the ignore-external
    restriction (isExempted(fromUrl, toUrl) — the default plugin
    matches toUrl against its rule list)."""

    def __init__(self, patterns: list[str]):
        self._res = [re.compile(p) for p in patterns]
        # single alternation for the JVM-side fast path
        self.java_pattern = "|".join(f"(?:{p})" for p in patterns) or None

    def is_exempted(self, from_url: str | None, to_url: str | None) -> bool:
        if to_url is None:
            return False
        return any(r.search(to_url) for r in self._res)
