"""URL canonicalization, host extraction, hashing (SURVEY.md §2 B3-B5).

The canonical form feeds ``xxhash64`` which *defines* the URL-seen set, so
it must be byte-deterministic (BASELINE.json north_star).  The reference
crawler keys on integer PMIDs (trivial normalization); this generalizes to
RFC-3986 canonicalization for web URLs:

* lowercase scheme and host
* strip default port (:80 for http, :443 for https)
* drop fragment
* resolve ``.`` / ``..`` path segments
* normalize %-escapes: decode unreserved characters, uppercase the rest
* empty path -> "/"

Implemented once in pure Python (``canonicalize_one`` — used by the oracle
crawler and unit tests) and vectorized as an Arrow-batched pandas UDF
(``canonicalize_udf``) for the engine — no per-row Python at plan level
(BASELINE.json input_hint).  In the crawl loop the UDF runs only on seeds:
discovered links come out of the extraction UDF already canonical
(``extract.text_links_udf`` calls ``canonicalize_one``), so a round has no
separate canonicalization stage.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

_DEFAULT_PORTS = {"http": "80", "https": "443"}
_UNRESERVED = set(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)
_PCT_RE = re.compile(r"%([0-9a-fA-F]{2})")
_SCHEME_RE = re.compile(r"^([a-zA-Z][a-zA-Z0-9+.-]*):(.*)$", re.S)


def _norm_pct(s: str) -> str:
    """Uppercase %-escapes; decode the ones that map to unreserved chars."""

    def repl(m: re.Match[str]) -> str:
        ch = chr(int(m.group(1), 16))
        if ch in _UNRESERVED:
            return ch
        return "%" + m.group(1).upper()

    return _PCT_RE.sub(repl, s)


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4."""
    out: list[str] = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if out and out[-1] != "":
                out.pop()
                if not out:
                    out = [""]
            continue
        out.append(seg)
    # preserve trailing slash when last seg was . or ..
    if path.endswith(("/.", "/..")) and (not out or out[-1] != ""):
        out.append("")
    res = "/".join(out)
    if not res.startswith("/"):
        res = "/" + res
    return res


def canonicalize_one(url: str | None) -> str | None:
    """Pure-Python canonical form; idempotent (property-tested)."""
    if url is None:
        return None
    u = url.strip()
    if not u:
        return u
    m = _SCHEME_RE.match(u)
    if not m:
        # schemeless: treat as http
        u = "http://" + u
        m = _SCHEME_RE.match(u)
        assert m is not None
    scheme = m.group(1).lower()
    rest = m.group(2)
    if not rest.startswith("//"):
        return scheme + ":" + _norm_pct(rest)
    rest = rest[2:]
    # split off fragment first (dropped), then query
    frag_at = rest.find("#")
    if frag_at >= 0:
        rest = rest[:frag_at]
    q_at = rest.find("?")
    query = None
    if q_at >= 0:
        query = rest[q_at + 1 :]
        rest = rest[:q_at]
    slash_at = rest.find("/")
    if slash_at >= 0:
        authority, path = rest[:slash_at], rest[slash_at:]
    else:
        authority, path = rest, ""
    # userinfo untouched except host lowering
    userinfo = ""
    host = authority
    if "@" in authority:
        userinfo, host = authority.rsplit("@", 1)
        userinfo += "@"
    port = ""
    if host.startswith("["):  # ipv6
        close = host.find("]")
        hostname, portpart = host[: close + 1], host[close + 1 :]
        if portpart.startswith(":"):
            port = portpart[1:]
        host = hostname
    elif ":" in host:
        host, port = host.rsplit(":", 1)
    host = host.lower().rstrip(".")
    if port and port != _DEFAULT_PORTS.get(scheme, ""):
        hostport = host + ":" + port
    else:
        hostport = host
    path = _norm_pct(_remove_dot_segments(path)) if path else "/"
    if path == "":
        path = "/"
    out = f"{scheme}://{userinfo}{hostport}{path}"
    if query is not None:
        out += "?" + _norm_pct(query)
    return out


def host_one(url: str | None) -> str | None:
    """Host (lowercased, no port) of an already-canonical or raw URL."""
    c = canonicalize_one(url)
    if c is None:
        return None
    m = re.match(r"^[a-z][a-z0-9+.-]*://(?:[^/@]*@)?(\[[^\]]*\]|[^/:?#]*)", c)
    return m.group(1) if m else None


@pandas_udf(StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    """Arrow-batched canonicalization (B3)."""
    return urls.map(canonicalize_one)


@pandas_udf(StringType())
def host_udf(urls: pd.Series) -> pd.Series:
    return urls.map(host_one)


# The functions ARE pure, but marking them non-deterministic stops Catalyst
# from inlining the UDF expression into pushed-down predicates / collapsed
# projections — measured to evaluate the UDF up to ~5x per row otherwise
# (one ArrowEvalPython per operator that references the output column).
canonicalize_udf = canonicalize_udf.asNondeterministic()
host_udf = host_udf.asNondeterministic()


def canonicalize(col: Column) -> Column:
    return canonicalize_udf(col)


def host(col: Column) -> Column:
    """Host extraction (B4).

    For already-canonical URLs this stays fully JVM-side (regexp on a plain
    column → predicate/codegen friendly); use ``host_udf`` on raw URLs.
    """
    return F.regexp_extract(col, r"^[a-z][a-z0-9+.-]*://(?:[^/@]*@)?(\[[^\]]*\]|[^/:?#]+)", 1)


def surt(col: Column) -> Column:
    """SURT key (Sort-friendly URI Reordering Transform) of a canonical
    URL — Common Crawl's CDX ``urlkey``: host labels reversed and
    comma-joined (non-default port kept after the host part), ``)``
    separator, then LOWERCASED path + alphabetically-sorted query; scheme
    and a leading ``www.`` dropped.  ``https://www.a.example.com/P?b=2&a=1``
    → ``com,example,a)/p?a=1&b=2``.  All built-ins (split/reverse/
    array_join/array_sort), fully JVM-side, so sorting/joining by crawl
    key — e.g. against :func:`io.read_cdx` urlkeys — never leaves codegen.
    """
    h = F.regexp_replace(F.lower(host(col)), r"^www\.", "")
    rev = F.array_join(F.reverse(F.split(h, r"\.")), ",")
    port = F.regexp_extract(
        col, r"^[a-z][a-z0-9+.-]*://(?:[^/@]*@)?(?:\[[^\]]*\]|[^/:?#]+):(\d+)", 1
    )
    hostpart = F.concat(
        rev, F.when(port != "", F.concat(F.lit(":"), port)).otherwise(F.lit(""))
    )
    rest = F.lower(
        F.regexp_replace(
            col,
            r"^[a-z][a-z0-9+.-]*://(?:[^/@]*@)?(\[[^\]]*\]|[^/:?#]+)(:\d+)?",
            "",
        )
    )
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    query = F.regexp_replace(rest, r"^[^?]*\??", "")
    sorted_q = F.array_join(F.array_sort(F.split(query, "&")), "&")
    rest2 = F.when(query == "", path).otherwise(
        F.concat(path, F.lit("?"), sorted_q)
    )
    rest2 = F.when(rest2 == "", F.lit("/")).otherwise(rest2)
    return F.concat(hostpart, F.lit(")"), rest2)


def url_hash(col: Column) -> Column:
    """64-bit deterministic key for the seen set (B5) — JVM xxhash64."""
    return F.xxhash64(col)


def bucket(col_hash: Column, n_buckets: int) -> Column:
    """Stable bucket id in [0, n_buckets) from a signed 64-bit hash."""
    return F.pmod(col_hash, F.lit(n_buckets)).cast("int")


def resolve_aliases(
    urls: "DataFrame",
    aliases: "DataFrame",
    max_hops: int = 5,
    url_col: str = "url",
    src_col: str = "src",
    dst_col: str = "dst",
    broadcast_aliases: bool = True,
) -> "DataFrame":
    """Resolve urls through redirect/alias chains (3xx targets, rel=canonical,
    mirror maps) to their final destination: ``(url, resolved_url, hops)``.

    Each hop is one left equi-join against the ``(src, dst)`` alias table;
    the loop runs a FIXED ``max_hops`` times (deterministic plan, no
    driver-side convergence probing), which also terminates redirect
    CYCLES — a url still rewriting at the cap keeps its last value with
    ``hops = max_hops``, a sentinel callers can filter or log.  The alias
    table broadcasts by default (redirect maps are thin next to a
    frontier); pass ``broadcast_aliases=False`` to let AQE pick a
    shuffle join when the map itself is huge.
    """
    a = aliases.select(F.col(src_col).alias("__src"), F.col(dst_col).alias("__dst"))
    if broadcast_aliases:
        a = F.broadcast(a)
    out = urls.select(
        F.col(url_col).alias("url"),
        F.col(url_col).alias("resolved_url"),
        F.lit(0).alias("hops"),
    )
    for _ in range(max_hops):
        out = (
            out.join(a, out.resolved_url == a.__src, "left")
            .select(
                "url",
                F.coalesce("__dst", "resolved_url").alias("resolved_url"),
                (F.col("hops") + F.when(F.col("__dst").isNotNull(), 1).otherwise(0)).alias("hops"),
            )
        )
    return out
