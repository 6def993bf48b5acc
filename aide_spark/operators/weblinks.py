"""URL canonicalization, registrable-domain extraction, href resolution.

The web-graph half of a crawl pipeline: outlinks (html_codec
extract_links) only become a graph once hrefs are resolved against their
page's base URL and canonicalized so that the same resource has ONE key
(``HTTP://Example.COM:80/a?utm_source=x&b=1#f`` ≡
``http://example.com/a?b=1``). Per-host/per-domain aggregation then needs
the *registrable* domain (eTLD+1), not the raw host — ``a.github.io``
and ``b.github.io`` are different sites, ``news.bbc.co.uk`` and
``www.bbc.co.uk`` are one.

Each transform is one SQL expression over column names, parsed once with
``F.expr`` (r6: building the same trees as Column objects through py4j cost
~1 s per call for the staged resolve→canonicalize→host→domain chain).
Anchored regexes + array higher-order functions — each anchored pattern
matches at most once, so Spark's replace-all and DuckDB's replace-first
agree. No UDFs, no shuffle: this is a projection that fuses into whatever
scan or join surrounds it. Callers stage a chain behind one projection per
step (see ``queries.web_domain_outdegree``): each step reads its input
several times, so nesting the calls would copy the inner expression.

The suffix table is a trimmed, inlined subset of the public-suffix list
(publicsuffix.org, public domain data) — the mechanism (longest-suffix
match over label arrays) is what scales to the full ~9k-entry list via
the same ``isin``/map-literal route the lang-ID profiles use.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"

# two-label public suffixes (trimmed PSL subset; single-label suffixes are
# the default branch). github.io / blogspot.com are "private-section"
# suffixes — included because site identity is what dedup cares about.
TWO_LABEL_SUFFIXES = [
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk",
    "com.au", "net.au", "org.au", "co.nz",
    "co.jp", "or.jp", "ne.jp", "ac.jp",
    "com.br", "com.cn", "com.mx", "com.tr", "co.in", "co.kr", "co.za",
    "github.io", "blogspot.com",
]

# query parameters that never change the resource: strip before keying
TRACKING_PARAM_RE = r"^(utm_[A-Za-z0-9_]*|gclid|fbclid|msclkid|mc_eid|ref|igshid)="


def _sql_str(s: str) -> str:
    """Spark SQL string literal (backslash escapes are ACTIVE in SQL text,
    so regex backslashes must double)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def canonicalize_url(u: str) -> Column:
    """Canonical form of the absolute http(s)-style URL in column ``u``:

    * scheme and host lowercased;
    * default port dropped (``:80`` for http, ``:443`` for https; other
      ports kept);
    * fragment removed;
    * tracking query parameters removed, survivors sorted bytewise;
    * empty path → ``/``.

    Strings without a scheme pass through unchanged (callers resolve
    relative hrefs first — see :func:`resolve_href`).
    """
    sch = _sql_str(_SCHEME_RE)
    nofrag = f"regexp_replace({u}, '#.*$', '')"
    scheme = f"lower(regexp_extract({nofrag}, {sch}, 1))"
    after = f"regexp_replace({nofrag}, {sch}, '')"
    hostport = f"regexp_extract({after}, '^([^/?]*)', 1)"
    strip_port = _sql_str(r":\d+$")
    grab_port = _sql_str(r":(\d+)$")
    host = f"lower(regexp_replace({hostport}, {strip_port}, ''))"
    port = f"regexp_extract({hostport}, {grab_port}, 1)"
    keep_port = (
        f"({port} != '' AND NOT (({scheme} = 'http' AND {port} = '80') "
        f"OR ({scheme} = 'https' AND {port} = '443')))"
    )
    pathq = f"regexp_replace({after}, '^[^/?]*', '')"
    path0 = f"regexp_extract({pathq}, '^([^?]*)', 1)"
    path = f"(CASE WHEN {path0} = '' THEN '/' ELSE {path0} END)"
    grab_query = _sql_str(r"\?(.*)$")
    query = f"regexp_extract({pathq}, {grab_query}, 1)"
    params = (
        f"array_sort(filter(split({query}, '&'), "
        f"p -> p != '' AND NOT (p RLIKE {_sql_str(TRACKING_PARAM_RE)})))"
    )
    canon = (
        f"concat({scheme}, '://', {host}, "
        f"CASE WHEN {keep_port} THEN concat(':', {port}) ELSE '' END, {path}, "
        f"CASE WHEN size({params}) > 0 "
        f"THEN concat('?', array_join({params}, '&')) ELSE '' END)"
    )
    return F.expr(f"CASE WHEN {u} RLIKE {sch} THEN {canon} ELSE {u} END")


def url_host(u: str) -> Column:
    """Lowercase host of the absolute URL in column ``u`` ('' when there is
    no scheme)."""
    sch = _sql_str(_SCHEME_RE)
    after = f"regexp_replace(regexp_replace({u}, '#.*$', ''), {sch}, '')"
    strip_port = _sql_str(r":\d+$")
    host = (
        f"lower(regexp_replace(regexp_extract({after}, '^([^/?]*)', 1), "
        f"{strip_port}, ''))"
    )
    return F.expr(f"CASE WHEN {u} RLIKE {sch} THEN {host} ELSE '' END")


def registrable_domain(h: str) -> Column:
    """eTLD+1 of the hostname in column ``h`` via longest-suffix match
    against the inlined PSL subset: if the last two labels form a listed
    suffix the registrable domain is three labels, else two (bare and
    single-label hosts pass through)."""
    dot = _sql_str(r"\.")
    labels = f"split(lower({h}), {dot})"
    n = f"size({labels})"
    last2 = f"array_join(slice({labels}, {n} - 1, 2), '.')"
    last3 = f"array_join(slice({labels}, {n} - 2, 3), '.')"
    suffixes = ", ".join(f"'{s}'" for s in TWO_LABEL_SUFFIXES)
    return F.expr(
        f"CASE WHEN {n} <= 1 THEN lower({h}) "
        f"WHEN {n} >= 3 AND {last2} IN ({suffixes}) THEN {last3} "
        f"ELSE {last2} END"
    )


def _remove_dot_segments_sql(p: str) -> str:
    """SQL text of :func:`remove_dot_segments`; ``p`` is a SQL expression.
    An ``aggregate`` fold with an array accumulator: pop on ``..``, skip
    ``.`` and empty interior segments. All segments popped or skipped gives
    ``/``; a directory-form input keeps its trailing slash."""
    segs = f"split({p}, '/')"
    folded = (
        f"aggregate({segs}, CAST(array() AS ARRAY<STRING>), "
        "(acc, s) -> CASE WHEN s = '..' "
        "THEN slice(acc, 1, greatest(size(acc) - 1, 0)) "
        "WHEN s = '.' OR s = '' THEN acc "
        "ELSE concat(acc, array(s)) END)"
    )
    trail = (
        f"(CASE WHEN element_at({segs}, -1) IN ('', '.', '..') "
        "THEN '/' ELSE '' END)"
    )
    joined = f"concat('/', array_join({folded}, '/'))"
    return (
        f"CASE WHEN size({folded}) = 0 THEN '/' "
        f"WHEN {trail} = '/' THEN concat({joined}, {trail}) "
        f"ELSE {joined} END"
    )


def remove_dot_segments(p: str) -> Column:
    """RFC 3986 §5.2.4 over the path in column ``p``: ``/a/b/../c`` →
    ``/a/c``, entirely JVM-side."""
    return F.expr(_remove_dot_segments_sql(p))


def resolve_href(b: str, h: str) -> Column:
    """Resolve the outlink href in column ``h`` against the page URL in
    column ``b`` (RFC 3986 merge, dot segments removed):

    * absolute (``scheme://``) hrefs pass through;
    * ``//host/...`` takes the base's scheme;
    * ``/path`` is origin-relative;
    * anything else merges onto the base path's directory.

    ``b`` must be absolute; fragment-only hrefs resolve to the base without
    its fragment (same-page links are not new graph edges — callers usually
    filter them).
    """
    sch = _sql_str(_SCHEME_RE)
    scheme = f"lower(regexp_extract({b}, {sch}, 1))"
    nofrag = f"regexp_replace({b}, '#.*$', '')"
    after = f"regexp_replace({nofrag}, {sch}, '')"
    hostport = f"lower(regexp_extract({after}, '^([^/?]*)', 1))"
    origin = f"concat({scheme}, '://', {hostport})"
    base_path = (
        f"regexp_extract(regexp_replace({after}, '^[^/?]*', ''), '^([^?]*)', 1)"
    )
    base_dir = (
        f"(CASE WHEN {base_path} RLIKE '/' "
        f"THEN regexp_replace({base_path}, '/[^/]*$', '/') ELSE '/' END)"
    )
    hp = f"regexp_extract({h}, '^([^?#]*)', 1)"
    hq = f"regexp_extract({h}, '([?#].*)$', 1)"
    return F.expr(
        f"CASE WHEN {h} RLIKE {sch} THEN {h} "
        f"WHEN {h} RLIKE '^//' THEN concat({scheme}, ':', {h}) "
        f"WHEN {h} RLIKE '^#' THEN concat({origin}, {base_path}, {h}) "
        f"WHEN {h} RLIKE '^/' "
        f"THEN concat({origin}, {_remove_dot_segments_sql(hp)}, {hq}) "
        f"ELSE concat({origin}, "
        f"{_remove_dot_segments_sql(f'concat({base_dir}, {hp})')}, {hq}) END"
    )
