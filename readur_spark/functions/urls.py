"""URL canonicalization + canonical dedup — crawl-frontier hygiene.

A web corpus reaches the pipeline keyed by URL, and the same logical
page arrives under many spellings: case-shifted scheme/host, explicit
default ports, tracking parameters, re-ordered query strings, fragments.
Deduplicating on the RAW url misses all of those; canonicalize first and
one logical page survives once. Reference analog: readur normalizes
source paths before sync-state comparison so one logical file maps to
one sync row (/root/reference/src/services/webdav/ smart sync,
src/routes/sources.rs path handling); at web scale the same role is
canonical-URL dedup before fetch/extract.

Everything here is ONE codegen'd Catalyst expression per row — no UDF,
no shuffle — and the transformation is deliberately restricted to
string ops with exact DuckDB equivalents (regexp_replace on anchored
patterns, split/filter/sort/join) so the driver oracle mirrors it
bit-for-bit (see __spark_entry__.oracle_sql()["url_canonical_dedup"]).

Canonical form (documented contract, in application order):
1. trim; strip ``#fragment``;
2. lowercase the scheme and the authority (host[:port]);
3. drop an explicit default port (``:80`` for http, ``:443`` for https);
4. drop tracking query parameters (``utm_*``, ``fbclid``, ``gclid``,
   ``yclid``, ``msclkid``, ``igshid``, ``mc_eid``), sort the remaining
   parameters byte-lexicographically, and re-join with ``&`` (dropping
   the ``?`` entirely when none remain);
5. a bare root path ``/`` collapses to the empty path.
Out of scope (kept verbatim): percent-encoding case, ``www.`` prefixes,
path dot-segments, duplicate-key parameter semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: query parameters that never change page identity (analytics tags)
TRACKING_PARAM_RE = (
    "^(utm_[A-Za-z0-9_]*|fbclid|gclid|yclid|msclkid|igshid|mc_eid)(=|$)"
)

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://"


def canonical_url_col(url: Column) -> Column:
    """Canonical form of ``url`` per the module contract. Pure Catalyst:
    anchored single-match regexes (Spark's replace-all and DuckDB's
    replace-first coincide on anchored patterns — a property the oracle
    mirror depends on), higher-order filter/sort on the query params."""
    s = F.regexp_replace(F.trim(url), "#.*", "")
    scheme = F.lower(F.regexp_extract(s, _SCHEME_RE, 1))
    after = F.regexp_replace(s, _SCHEME_RE, "")
    auth0 = F.lower(F.regexp_extract(after, r"^([^/?]*)", 1))
    auth = (
        F.when(scheme == "http", F.regexp_replace(auth0, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(auth0, ":443$", ""))
        .otherwise(auth0)
    )
    pathq = F.regexp_replace(after, r"^[^/?]*", "")
    path = F.regexp_extract(pathq, r"^([^?]*)", 1)
    query = F.regexp_replace(pathq, r"^[^?]*\??", "")
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
        )
    )
    qcanon = F.array_join(params, "&")
    return F.concat(
        F.when(scheme == "", F.lit("")).otherwise(
            F.concat(scheme, F.lit("://"))
        ),
        auth,
        F.when(path == "/", F.lit("")).otherwise(path),
        F.when(qcanon == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), qcanon)
        ),
    )


def dedup_by_canonical_url(
    docs: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Keep-first dedup on the canonical URL: one row per canonical form,
    the survivor being the smallest ``doc_id`` (deterministic under any
    partitioning). Scale shape: ONE shuffle — a window partitioned by
    the canonical string (same plan as exact content dedup keep-first);
    at crawl scale the full-URL key is far better distributed than a
    per-host key, so no skew salt is needed."""
    from pyspark.sql import Window

    canon = docs.withColumn("canonical_url", canonical_url_col(F.col(url_col)))
    # docs WITHOUT a usable URL (NULL or canonicalizing to '') must all
    # survive: 'unknown URL' is not 'same page', and a single window
    # partition for the NULL key would otherwise silently discard every
    # such doc but one (review finding). They bypass the dedup window
    # entirely — which also removes the one potentially-skewed partition
    # (missing-metadata rows are the only non-unique key at crawl scale).
    no_url = F.col("canonical_url").isNull() | (F.col("canonical_url") == "")
    keep = canon.filter(no_url)
    w = Window.partitionBy("canonical_url").orderBy("doc_id")
    deduped = (
        canon.filter(~no_url)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return deduped.unionByName(keep)
