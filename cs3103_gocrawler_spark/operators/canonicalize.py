"""U1 — URL canonicalize + hash (SURVEY.md §2.10).

Replaces the reference's ``url.Parse`` call sites (crawler.go:116-120,
linkextractor.go:39-49). Links leave the fused fetch pass canonical, so the
round's children only need ``with_url_columns`` (host/path/url_sha1 derived
on the JVM); seeds go through ``with_canonical``, a pandas UDF followed by
the same derivation.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812
from pyspark.sql import types as T  # noqa: N812

from ..functions.pyworker import forget_zip_finders
from ..functions.urlfuncs import canonicalize_url

# split_canonical on a canonical URL (scheme://host[:port]/path[?query]):
# host drops the port, path stops at the query
_HOST_RE = r"^[^:/]+://([^/]*?)(?::[^:/]*)?/"
_PATH_RE = r"^[^:/]+://[^/]*(/[^?]*)"


def with_url_columns(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Add host/path/url_sha1 derived from the already-canonical ``url_col``
    on the JVM; equal to ``split_canonical`` + ``sha1_64`` (url_sha1 = the
    first 8 bytes of SHA1 as a signed int64)."""
    u = F.col(url_col)
    return df.withColumns({
        "host": F.regexp_extract(u, _HOST_RE, 1),
        "path": F.regexp_extract(u, _PATH_RE, 1),
        "url_sha1": F.conv(F.substring(F.sha1(u), 1, 16), 16, -10).cast("long"),
    })


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


def with_canonical(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Replace ``url_col`` with its canonical form + host/path/url_sha1
    columns; drops rows whose URL is unparsable or non-http(s)."""
    c = df.withColumn(url_col, _canon_struct_once(F.col(url_col)))
    return with_url_columns(c.filter(F.col(url_col).isNotNull()), url_col)
