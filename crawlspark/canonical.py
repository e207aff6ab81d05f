"""RFC-3986 URL canonicalization + xxhash64 keying.

This is the engine analog of the reference's dedup identity: the reference
dedups datasets by their opaque ``dataset_id``
(/root/reference/src/storage/surrogate_key.rs:24-34); a web-scale frontier
dedups by *canonical URL*, so equivalent spellings
(``HTTP://Host.example:443/a/../b#frag`` vs ``http://host.example/b``) collapse
to one seen-set entry (north_rule).

Two implementations that agree by construction:

* ``canonicalize_expr(col)`` — a pure Spark SQL expression (JVM-side,
  whole-stage-codegen; no Python in the hot path), built from split/transform/
  regexp_replace passes.
* ``canonicalize_py(url)``  — the same algorithm in Python, used by the
  sequential oracle simulator (tests/oracle_sim.py).

Both run the same pass list:
  1. trim; strip fragment
  2. percent-normalization: uppercase hex; decode unreserved [A-Za-z0-9._~-]
  3. scheme + authority lowercased; default ports (:80 http, :443 https) removed
  4. empty path → "/"; dot-segment removal via N bounded left-to-right regex
     passes (identical regexes and pass order on both sides)

Scale note: the whole canonicalizer is one Catalyst projection — it pushes
through shuffles for free and costs no Python serialization at 10^10 URLs.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# bounded dot-segment passes; path depth beyond this is not normalized further
# (deterministic on both sides, so crawl order/seen set still agree exactly);
# each pass removes at least one dot segment, and >6 chained ../ segments is
# vanishingly rare in real URLs — bound kept small to keep the Catalyst
# expression tree (6 passes × 6 regexes) cheap to analyze/codegen
DOT_PASSES = 6

# unreserved ASCII classified from the (uppercased) hex pair itself — the
# byte is never decoded, so multi-byte/invalid UTF-8 escapes (%C3, %FF) can't
# throw (Spark 4 MALFORMED_CHARACTER_CODING) and are kept verbatim:
# 30-39 digits, 41-5A upper, 61-7A lower, 2D '-', 2E '.', 5F '_', 7E '~'
_UNRESERVED_HEX = "^(3[0-9]|4[1-9A-F]|5[0-9A]|6[1-9A-F]|7[0-9A]|2D|2E|5F|7E)$"
_HEX2 = "^[0-9A-Fa-f]{2}"

# one dot-segment pass = these regexes applied in order, replace-all,
# left-to-right non-overlapping (same semantics in Java and Python `re`)
_DOT_RULES: list[tuple[str, str]] = [
    (r"/\./", "/"),                      # /./  -> /
    (r"/\.$", "/"),                      # trailing /.
    (r"/(?!\.\./)[^/]+/\.\./", "/"),     # /seg/../ -> /
    (r"/(?!\.\.$)[^/]+/\.\.$", "/"),     # trailing /seg/..
    (r"^/\.\.(?=/)", ""),                # leading /.. swallowed at root
    (r"^/\.\.$", "/"),
]


# ---------------------------------------------------------------------------
# Spark expression
# ---------------------------------------------------------------------------

def _bind_once(expr: Column, fn) -> Column:
    """Evaluate ``expr`` once and feed it to ``fn`` as a lambda variable.
    Catalyst evaluates every textual occurrence of a column expression
    independently — inside higher-order-function lambdas there is no codegen
    subexpression elimination at all — so a multi-reference intermediate
    must be routed through a 1-element array transform to be computed
    exactly once."""
    return F.element_at(F.transform(F.array(expr), fn), 1)


def _percent_normalize_expr(url: Column) -> Column:
    # guard: a URL with no '%' cannot be changed by percent-normalization
    # (split yields one piece, the tail transform is empty) — skip the
    # split/slice/transform machinery for the overwhelmingly common case.
    # CASE WHEN evaluates the expensive branch lazily per row; output is
    # identical by construction.
    return F.when(
        url.contains("%"), _percent_normalize_full(url)
    ).otherwise(url)


def _percent_normalize_full(url: Column) -> Column:
    parts = F.split(url, "%", -1)
    head = F.element_at(parts, 1)
    tail = F.slice(parts, 2, F.greatest(F.size(parts) - 1, F.lit(0)))

    def norm_piece(p: Column) -> Column:
        hex2 = F.upper(F.substring(p, 1, 2))
        rest = F.substr(p, F.lit(3), F.length(p))
        # ASCII code point from the hex pair — only ever evaluated for the
        # unreserved set above, so no byte decoding happens at all
        ch = F.char(F.conv(hex2, 16, 10).cast("int"))
        is_hex = p.rlike(_HEX2)
        return (
            F.when(is_hex & hex2.rlike(_UNRESERVED_HEX), F.concat(ch, rest))
            .when(is_hex, F.concat(F.lit("%"), hex2, rest))
            .otherwise(F.concat(F.lit("%"), p))
        )

    return F.concat(head, F.array_join(F.transform(tail, norm_piece), ""))


def _remove_dot_segments_expr(path: Column) -> Column:
    # guard: every _DOT_RULES pattern requires the substring "/." somewhere
    # in the path (/./ , /.$ , /seg/../ , ^/.. all contain it), so a path
    # without "/." is a fixpoint of the whole 6×6 regex chain — skip the 36
    # regexp_replace passes for it (the overwhelmingly common case; the
    # chain dominated canonicalize_expr's per-URL cost). Identical output:
    # regexp_replace without a match returns its input unchanged.
    out = path
    for _ in range(DOT_PASSES):
        for pat, rep in _DOT_RULES:
            out = F.regexp_replace(out, pat, rep)
    return F.when(path.contains("/."), out).otherwise(path)


def canonicalize_expr(url: Column) -> Column:
    """Canonical form of a URL column — pure Spark SQL, no UDF.

    Every multi-reference intermediate (percent-normalized url, rest,
    authority, pathq, path) is BOUND once via ``_bind_once`` before its
    consumers read it: the naive formulation flattened the expression DAG
    to a tree, so e.g. each of the ~9 textual references to ``authority``
    re-ran regexp_extract(rest,..) → regexp_replace(u,..) → the whole
    percent-normalize chain — a multiplicative blowup that dominated
    per-URL cost, especially inside per-link transform lambdas (no codegen
    CSE there). Same operations, same values, evaluated once each."""
    u0 = _percent_normalize_expr(F.substring_index(F.trim(url), "#", 1))

    # outermost bind covers the WHEN(has_scheme, ...) guard's second read of u
    return F.element_at(
        F.transform(
            F.array(u0),
            lambda u: _bind_once(
                F.struct(
                    u.alias("u"),
                    F.lower(
                        F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1)
                    ).alias("scheme"),
                    F.regexp_replace(
                        u, r"^[A-Za-z][A-Za-z0-9+.\-]*://", ""
                    ).alias("rest"),
                ),
                lambda s1: F.when(
                    s1["u"].rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*://"),
                    _canon_tail(s1),
                ).otherwise(s1["u"]),
            ),
        ),
        1,
    )


def _canon_tail(s1) -> Column:
    """scheme+authority+path+query assembly over the bound (u, scheme, rest)
    struct — each level binds its intermediate once (see canonicalize_expr)."""
    auth_raw = F.lower(F.regexp_extract(s1["rest"], r"^([^/?]*)", 1))

    def with_auth(a):
        scheme = s1["scheme"]
        authority = F.when(
            scheme == "http", F.regexp_replace(a, ":80$", "")
        ).otherwise(a)
        authority = F.when(
            scheme == "https", F.regexp_replace(authority, ":443$", "")
        ).otherwise(authority)
        pathq = F.substr(s1["rest"], F.length(a) + 1, F.length(s1["rest"]))
        s2 = F.struct(authority.alias("authority"), pathq.alias("pathq"))

        def with_pq(p2):
            path0 = F.substring_index(p2["pathq"], "?", 1)

            def with_path0(p0):
                query = F.substr(
                    p2["pathq"], F.length(p0) + 1, F.length(p2["pathq"])
                )
                path1 = F.when(p0 == "", F.lit("/")).otherwise(p0)
                path = _bind_once(path1, _remove_dot_segments_expr)
                return F.concat(
                    s1["scheme"], F.lit("://"), p2["authority"], path, query
                )

            return _bind_once(path0, with_path0)

        return _bind_once(s2, with_pq)

    return _bind_once(auth_raw, with_auth)


def url_hash_expr(canonical_url: Column) -> Column:
    """xxhash64 key of a canonical URL (JVM-side, same fn used for salting)."""
    return F.xxhash64(canonical_url)


def host_expr(canonical_url: Column) -> Column:
    """Host (incl. non-default port) of a canonical URL."""
    return F.regexp_extract(canonical_url, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?]*)", 1)


# ---------------------------------------------------------------------------
# Python mirror (oracle side)
# ---------------------------------------------------------------------------

_SCHEME_RE = re.compile(r"^([A-Za-z][A-Za-z0-9+.\-]*)://")


def _percent_normalize_py(url: str) -> str:
    parts = url.split("%")
    out = [parts[0]]
    for p in parts[1:]:
        if re.match(_HEX2, p):
            hex2 = p[:2].upper()
            rest = p[2:]
            if re.match(_UNRESERVED_HEX, hex2):
                out.append(chr(int(hex2, 16)) + rest)
            else:
                out.append("%" + hex2 + rest)
        else:
            out.append("%" + p)
    return "".join(out)


def _remove_dot_segments_py(path: str) -> str:
    for _ in range(DOT_PASSES):
        for pat, rep in _DOT_RULES:
            path = re.sub(pat, rep, path)
    return path


def canonicalize_py(url: str) -> str:
    u = url.strip(" ")  # F.trim strips spaces only — mirror exactly
    u = u.split("#", 1)[0]
    u = _percent_normalize_py(u)

    m = _SCHEME_RE.match(u)
    if not m:
        return u
    scheme = m.group(1).lower()
    rest = u[m.end():]
    am = re.match(r"^([^/?]*)", rest)
    authority = am.group(1).lower()
    pathq = rest[len(am.group(1)):]

    if scheme == "http":
        authority = re.sub(r":80$", "", authority)
    elif scheme == "https":
        authority = re.sub(r":443$", "", authority)

    path = pathq.split("?", 1)[0]
    query = pathq[len(path):]
    if path == "":
        path = "/"
    path = _remove_dot_segments_py(path)
    return f"{scheme}://{authority}{path}{query}"


def host_py(canonical_url: str) -> str:
    m = re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?]*)", canonical_url)
    return m.group(1) if m else ""


def xxhash64_py(s: str, seed: int = 42) -> int:
    """Pure-Python xxhash64 matching Spark's ``F.xxhash64`` on a single string
    column (Spark hashes the UTF-8 bytes with seed 42 by default).

    Implementation of the public XXH64 algorithm (Yann Collet, BSD), kept here
    so the oracle simulator can reproduce engine keys without a JVM.
    """
    data = s.encode("utf-8")
    P1 = 0x9E3779B185EBCA87
    P2 = 0xC2B2AE3D27D4EB4F
    P3 = 0x165667B19E3779F9
    P4 = 0x85EBCA77C2B2AE63
    P5 = 0x27D4EB2F165667C5
    MASK = 0xFFFFFFFFFFFFFFFF

    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & MASK

    n = len(data)
    idx = 0
    if n >= 32:
        v1 = (seed + P1 + P2) & MASK
        v2 = (seed + P2) & MASK
        v3 = seed & MASK
        v4 = (seed - P1) & MASK
        while idx <= n - 32:
            for vi in range(4):
                lane = int.from_bytes(data[idx:idx + 8], "little")
                idx += 8
                v = (v1, v2, v3, v4)[vi]
                v = (v + lane * P2) & MASK
                v = rotl(v, 31)
                v = (v * P1) & MASK
                if vi == 0:
                    v1 = v
                elif vi == 1:
                    v2 = v
                elif vi == 2:
                    v3 = v
                else:
                    v4 = v
        h = (rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)) & MASK
        for v in (v1, v2, v3, v4):
            v = (v * P2) & MASK
            v = rotl(v, 31)
            v = (v * P1) & MASK
            h ^= v
            h = (h * P1 + P4) & MASK
    else:
        h = (seed + P5) & MASK
    h = (h + n) & MASK
    while idx <= n - 8:
        lane = int.from_bytes(data[idx:idx + 8], "little")
        idx += 8
        k = (lane * P2) & MASK
        k = rotl(k, 31)
        k = (k * P1) & MASK
        h ^= k
        h = (rotl(h, 27) * P1 + P4) & MASK
    if idx <= n - 4:
        lane = int.from_bytes(data[idx:idx + 4], "little")
        idx += 4
        h ^= (lane * P1) & MASK
        h = (rotl(h, 23) * P2 + P3) & MASK
    while idx < n:
        h ^= (data[idx] * P5) & MASK
        h = (rotl(h, 11) * P1) & MASK
        idx += 1
    h ^= h >> 33
    h = (h * P2) & MASK
    h ^= h >> 29
    h = (h * P3) & MASK
    h ^= h >> 32
    # Spark returns a signed long
    return h - (1 << 64) if h >= (1 << 63) else h


def extract_links_expr(html: Column, base_url: Column) -> Column:
    """Array of canonical outlink URLs from an html payload — the frontier's
    DISCOVERY edge (the reference crawls a curated seed list and discovers
    nothing, src/main.rs:154-267; here it builds the link graph of
    ``hostrank.host_graph_from_pages``).

    JVM-side end to end: binary→UTF-8 cast, one ``regexp_extract_all`` over
    ``href="…"`` attributes, then per-link RFC-3986 reference resolution for
    the documented subset — absolute http(s) links pass through the
    canonicalizer; root-relative links (``/path``) resolve against the base
    url's scheme+authority; everything else (relative segments, mailto:,
    javascript:, fragments) is dropped. Output is distinct and
    fragment-free; invalid UTF-8 payload bytes decode lossily and simply
    fail the href pattern (one corrupt page never fails a task).
    """
    s = html.cast("string")
    hrefs = F.regexp_extract_all(s, F.lit('href="([^"]+)"'), 1)
    base_auth = F.regexp_extract(F.lower(base_url), r"^(https?://[^/?#]+)", 1)
    # resolve first, canonicalize ONCE: inlining canonicalize_expr in each
    # WHEN branch doubled the (6-pass regex) expression tree per href
    resolved = F.transform(
        hrefs,
        lambda h: F.when(
            h.rlike("(?i)^https?://"), h
        ).when(
            h.startswith("/") & (base_auth != ""), F.concat(base_auth, h)
        ),
    )
    canon = F.transform(
        resolved, lambda c: F.when(c.isNotNull(), canonicalize_expr(c))
    )
    return F.array_distinct(F.filter(canon, lambda x: x.isNotNull()))


# --------------------------------------------------------------------------
# crawl-trap detection (URL-pattern explosion signals)
# --------------------------------------------------------------------------

def url_trap_signals(
    urls: DataFrame,
    url_col: str = "url",
    host_col: str = "host",
    max_depth: int = 8,
    max_seg_repeat: int = 2,
    max_params: int = 4,
    trap_pct: int = 50,
) -> DataFrame:
    """Per-host crawl-trap score from URL shape alone — the classic
    heuristics for calendar/session-id traps (Heydon & Najork, "Mercator"
    1999 §3.3 document the repeated-path-segment trap; infinite calendars
    and cart/session parameter explosions are the standard cases): a URL
    is trap-like when its path depth exceeds ``max_depth``, any path
    segment repeats ``> max_seg_repeat`` times within the SAME path
    (/a/b/a/b/a/...), or it carries ``> max_params`` query parameters. A
    host is flagged when more than ``trap_pct`` percent of its URLs are
    trap-like (integer cross-multiply — no float ratio).

    Pure Catalyst string/array expressions, exact integer outputs. One
    map-side-combinable groupBy(host) shuffle; the per-URL segment-repeat
    scan is O(segments^2) with segments bounded by the depth cap a real
    frontier enforces. At 10^10 URLs this is the cheapest full-frontier
    pass in the scheduler.

    Output per host: (host, n_urls, sum_depth, max_depth, max_seg_repeat,
    n_trap_urls, trap) — longs + boolean.
    """
    after_scheme = F.try_element_at(F.split(F.col(url_col), "://", 2), F.lit(2))
    rest = F.try_element_at(
        F.split(after_scheme, "/", 2), F.lit(2)
    )  # after host, may be null
    path = F.coalesce(F.try_element_at(F.split(rest, "\\?", 2), F.lit(1)), F.lit(""))
    query = F.try_element_at(F.split(rest, "\\?", 2), F.lit(2))  # null when no '?'
    depth = F.when(
        F.length(path) == 0, F.lit(0)
    ).otherwise(
        (F.length(path) - F.length(F.replace(path, F.lit("/"), F.lit("")))) + 1
    ).cast("long")
    n_params = F.when(query.isNull() | (F.length(query) == 0), F.lit(0)).otherwise(
        (F.length(query) - F.length(F.replace(query, F.lit("&"), F.lit("")))) + 1
    ).cast("long")
    segs = F.filter(F.split(path, "/"), lambda s: F.length(s) > 0)
    # the segment array is bound once before the per-segment lambda reads it:
    # referencing `segs` free inside the transform lambda re-ran the
    # split+filter once per segment (the _bind_once rule)
    seg_repeat = F.coalesce(
        F.array_max(
            _bind_once(
                segs,
                lambda sg: F.transform(
                    sg, lambda s: F.size(F.filter(sg, lambda x: x == s))
                ),
            )
        ),
        F.lit(0),
    ).cast("long")
    is_trap = (
        (depth > max_depth) | (seg_repeat > max_seg_repeat) | (n_params > max_params)
    )
    per_url = urls.select(
        F.col(host_col).alias("host"),
        depth.alias("depth"),
        n_params.alias("n_params"),
        seg_repeat.alias("seg_repeat"),
        is_trap.cast("long").alias("is_trap"),
    )
    return (
        per_url.groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.sum("depth").alias("sum_depth"),
            F.max("depth").alias("max_depth"),
            F.max("seg_repeat").alias("max_seg_repeat"),
            F.sum("is_trap").alias("n_trap_urls"),
        )
        .select(
            "host", "n_urls", "sum_depth", "max_depth", "max_seg_repeat",
            "n_trap_urls",
            (F.col("n_trap_urls") * 100 > F.col("n_urls") * trap_pct).alias("trap"),
        )
    )


def extract_anchor_pairs_expr(html: Column, base_url: Column) -> Column:
    """Array of (url, anchor) structs from an html payload — the outlink
    edge WITH its anchor text (the classic web-corpus signal: anchor text
    of inlinks describes the target better than the target's own page;
    Brin & Page 1998 §2.2 index anchors against the linked page).

    Same resolution subset and JVM-only construction as
    ``extract_links_expr``: full ``<a … href="…">TEXT</a>`` matches via one
    ``regexp_extract_all``, then per-match href/group re-extraction, RFC-3986
    subset resolution through the canonicalizer, whitespace-collapsed anchor
    text. Nested tags inside the anchor fail the ``[^<]*`` text group and
    the pair is simply dropped (never a task failure).
    """
    s = html.cast("string")
    pat = '<a [^>]*href="([^"]+)"[^>]*>([^<]*)</a>'
    matches = F.regexp_extract_all(s, F.lit(pat), 0)
    base_auth = F.regexp_extract(F.lower(base_url), r"^(https?://[^/?#]+)", 1)

    def to_raw(m: Column) -> Column:
        h = F.regexp_extract(m, pat, 1)
        txt = F.trim(F.regexp_replace(F.regexp_extract(m, pat, 2), r"\s+", " "))
        cand = F.when(
            h.rlike("(?i)^https?://"), h
        ).when(
            h.startswith("/") & (base_auth != ""), F.concat(base_auth, h)
        )
        return F.struct(cand.alias("url"), txt.alias("anchor"))

    # two-stage transform: stage 1 binds the resolved candidate as a lambda
    # variable, so stage 2's canonicalizer (whose expression tree references
    # its argument several times — HOF columns get no subexpression
    # elimination) re-reads a cheap variable instead of re-running the
    # regexp extraction per reference
    raw = F.transform(matches, to_raw)
    pairs = F.transform(
        raw,
        lambda p: F.struct(
            F.when(
                p["url"].isNotNull(), canonicalize_expr(p["url"])
            ).alias("url"),
            p["anchor"].alias("anchor"),
        ),
    )
    return F.filter(pairs, lambda p: p["url"].isNotNull())


def anchor_text_index(
    pages: DataFrame,
    html_col: str = "payload",
    base_col: str = "url",
) -> DataFrame:
    """Per-target anchor-text index over a pages frame: explode each page's
    (target, anchor) pairs, then aggregate inlink counts, distinct source
    hosts, and the most-frequent anchor per target.

    Scale shape: ONE shuffle keyed by target for the combinable counts
    (count + count-distinct-host via two-level agg), then the top-anchor
    pick runs on the already-aggregated (target, anchor) frame — data-scale
    rows never pass through a window; ties break deterministically by
    (count desc, anchor asc). Popular-target skew lands in the aggregated
    frame, which is orders of magnitude smaller than the edge list.

    Output: (url, n_inlinks, n_source_hosts, top_anchor, top_anchor_count).
    """
    from pyspark.sql import Window

    edges = pages.select(
        host_expr(canonicalize_expr(F.col(base_col))).alias("src_host"),
        F.explode(
            extract_anchor_pairs_expr(F.col(html_col), F.col(base_col))
        ).alias("p"),
    ).select("src_host", F.col("p.url").alias("url"), F.col("p.anchor").alias("anchor"))
    totals = edges.groupBy("url").agg(
        F.count(F.lit(1)).alias("n_inlinks"),
        F.countDistinct("src_host").alias("n_source_hosts"),
    )
    per_anchor = edges.groupBy("url", "anchor").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("url").orderBy(F.col("cnt").desc(), F.col("anchor").asc())
    top = (
        per_anchor.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "url", F.col("anchor").alias("top_anchor"),
            F.col("cnt").alias("top_anchor_count"),
        )
    )
    return totals.join(top, "url").select(
        "url", "n_inlinks", "n_source_hosts", "top_anchor", "top_anchor_count"
    )
