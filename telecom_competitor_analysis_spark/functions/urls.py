"""URL canonicalization — the crawl-curation move that collapses
tracking-noise URL variants BEFORE URL-keyed dedup (the first dedup
stage of every web pipeline: case-folded scheme/host, ``www.`` and
default-port stripping, fragment removal, trailing-slash folding,
tracking-parameter removal, and query-parameter ordering). The
reference's collectors fetch fixed per-site URLs
(dags/viking_class_scraper.py, dags/scarlet_scraper.py) so it never
needs this; a 100 TB crawl corpus does — the same page arrives under
thousands of ``?utm_…``/fragment/case variants and URL dedup is the
cheapest duplicate cut available (no content ever read).

Pure built-in column expressions (regexp + array functions) — JVM
codegen end to end, zero Python boundary, and every step is mirrored
verbatim by the DuckDB oracle (plans/dedup.py::q_url_dedup).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# one alternation, RE2-safe (no lookaround/backrefs) so Java regex and
# DuckDB RE2 agree byte-for-byte
TRACKING_PARAM_RE = "^(utm_[^=]*|ref|fbclid|gclid)="

_SCHEME_RE = "^([A-Za-z][A-Za-z0-9+.-]*)://"
_HOSTPORT_RE = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)"
_PATH_RE = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)"
_QUERY_RE = r"\?([^#]*)"


def url_scheme(url: Column) -> Column:
    """Lower-cased scheme ('' when the value is not URL-shaped)."""
    return F.lower(F.regexp_extract(F.regexp_replace(url, "#.*", ""), _SCHEME_RE, 1))


def url_host(url: Column) -> Column:
    """Canonical host: lower-cased, leading ``www.`` stripped, default
    port for the scheme (``:443`` https / ``:80`` http) stripped."""
    no_frag = F.regexp_replace(url, "#.*", "")
    scheme = url_scheme(url)
    host = F.regexp_replace(
        F.lower(F.regexp_extract(no_frag, _HOSTPORT_RE, 1)), r"^www\.", ""
    )
    return (
        F.when(scheme == "https", F.regexp_replace(host, ":443$", ""))
        .when(scheme == "http", F.regexp_replace(host, ":80$", ""))
        .otherwise(host)
    )


def canonicalize_url(url: Column) -> Column:
    """The full canonical form:

    scheme://host[path][?q] with scheme/host case-folded, ``www.`` and
    the scheme's default port stripped, the fragment dropped, trailing
    slashes folded (empty path → '/'), tracking parameters
    (``utm_*``/``ref``/``fbclid``/``gclid``) removed, and the surviving
    query parameters sorted — so parameter order never splits a URL key.

    Scale shape: a narrow per-row projection (regexp + split/filter/
    array_sort over the handful of query params) — canonicalization
    itself never shuffles; only the downstream groupBy on the canonical
    key does, and that key is exactly the dedup key.
    """
    no_frag = F.regexp_replace(url, "#.*", "")
    path = F.regexp_replace(F.regexp_extract(no_frag, _PATH_RE, 1), "/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    qs = F.regexp_extract(no_frag, _QUERY_RE, 1)
    kept_q = F.array_join(
        F.array_sort(
            F.filter(
                F.split(qs, "&"),
                lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
            )
        ),
        "&",
    )
    return F.concat(
        url_scheme(url),
        F.lit("://"),
        url_host(url),
        path,
        F.when(kept_q == "", F.lit("")).otherwise(F.concat(F.lit("?"), kept_q)),
    )
