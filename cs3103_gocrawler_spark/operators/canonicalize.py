"""U1 — URL canonicalize + hash (SURVEY.md §2.10).

Replaces the reference's ``url.Parse`` call sites (crawler.go:116-120,
linkextractor.go:39-49). Links leave the fused fetch pass canonical, so the
round's children only need ``url_columns`` (host/path/url_sha1 derived on
the JVM); seeds go through ``with_canonical``, which passes canonical
seeds through on the JVM and sends only the others to a pandas UDF, followed
by the same derivation.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F  # noqa: N812
from pyspark.sql import types as T  # noqa: N812

from ..functions.pyworker import forget_zip_finders
from ..functions.urlfuncs import canonicalize_url

# split_canonical on a canonical URL (scheme://host[:port]/path[?query]):
# host drops the port, path stops at the query
_HOST_RE = r"^[^:/]+://([^/]*?)(?::[^:/]*)?/"
_PATH_RE = r"^[^:/]+://[^/]*(/[^?]*)"


def url_columns(url_col: str = "url") -> dict[str, Column]:
    """host/path/url_sha1 of the already-canonical ``url_col``, derived on
    the JVM; equal to ``split_canonical`` + ``sha1_64`` (url_sha1 = the
    first 8 bytes of SHA1 as a signed int64)."""
    u = F.col(url_col)
    return {
        "host": F.regexp_extract(u, _HOST_RE, 1),
        "path": F.regexp_extract(u, _PATH_RE, 1),
        "url_sha1": F.conv(F.substring(F.sha1(u), 1, 16), 16, -10).cast("long"),
    }


def with_url_columns(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Add ``url_columns(url_col)`` to ``df``."""
    return df.withColumns(url_columns(url_col))


# crawlbench/tracing.py finds this UDF's plan node for canonicalize.* by its
# Python name, so the name stays ``canon_struct``.
@F.pandas_udf(T.StringType())
def canon_struct(urls: pd.Series) -> pd.Series:
    forget_zip_finders()
    return pd.Series(
        [canonicalize_url(u) if u is not None else None for u in urls],
        dtype=object,
    )


# Deterministic in fact, but declared nondeterministic so Catalyst pins it to
# ONE evaluation: the null filter plus the projection of its result otherwise
# split into two stacked ArrowEvalPython nodes — the UDF (and its Arrow pipe
# traffic) ran twice per row.
_canon_struct_once = canon_struct.asNondeterministic()


# A URL this matches (and that has no "/.") is one canonicalize_url returns
# unchanged: urlfuncs._CANONICAL_RE in Java's dialect. Java's $ also matches
# before a final line terminator and its \s is ASCII-only, while Python
# strips Unicode whitespace first; so the pattern ends at \z and its path
# admits no control (Cc) or separator (Z) character, a superset of every
# character Python counts as whitespace.
_JVM_CANONICAL_RE = r"\Ahttps?://[a-z0-9.\-]+/[^?#\p{Cc}\p{Z}]*\z"


def with_canonical(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Replace ``url_col`` with its canonical form + host/path/url_sha1
    columns; drops rows whose URL is null, unparsable or non-http(s).

    Already-canonical URLs pass through on the JVM (an ``rlike`` plus the
    ``/.`` guard of ``canonicalize_url``'s fast path); only the others cross
    into ``canon_struct``. Webgen seeds are all canonical, so a seed set
    built from pandas folds to a ``LocalTableScan`` with no Python stage:
    1,276 seeds took 51 ms instead of 130 ms (local[4], 4 vCPUs)."""
    u = F.col(url_col)
    canonical = u.rlike(_JVM_CANONICAL_RE) & ~u.contains("/.")
    crossed = (
        df.filter(~canonical)
        .withColumn(url_col, _canon_struct_once(u))
        .filter(u.isNotNull())
    )
    return with_url_columns(df.filter(canonical).unionByName(crossed), url_col)
