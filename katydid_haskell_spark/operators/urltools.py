"""URL canonicalization for web-crawl dedup keys.

Same canonical form as the big crawl pipelines use before url-level
dedup: lowercase scheme+authority, strip default ports (:80/:443), drop
the fragment, drop utm_* tracking params (separator-aware), strip a
bare trailing slash.  Pure JVM regexp chain (codegen, no UDF, no
shuffle) — map-side at any scale.

Replacement-string syntax differs between engines (Java ``$1`` vs RE2
``\\1``) but every pattern stays in the shared regex subset, so the
DuckDB oracle reproduces the transform byte-for-byte.  The utm rule
keeps its separator and collapses the leftovers afterwards, so a utm
pair is removed correctly at any position in the query string without
ever touching ``utm_`` occurrences in the path (the rule requires a
``?``/``&`` immediately before).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# scheme://authority (case preserved in the match; lowered afterwards)
_AUTHORITY_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*"


def normalize_url(col: Column) -> Column:
    """Canonical URL (see module docstring for the exact steps)."""
    prefix = F.regexp_extract(col, _AUTHORITY_RE, 0)
    rest = col.substr(F.length(prefix) + 1, F.length(col))
    norm_prefix = F.regexp_replace(F.lower(prefix), r":(80|443)$", "")
    r = F.regexp_replace(rest, r"#.*$", "")                    # fragment
    r = F.regexp_replace(r, r"([?&])utm_[^&#]*", r"$1")        # utm pairs
    r = F.regexp_replace(r, r"([?&])&+", r"$1")                # ?&& / a&&b
    r = F.regexp_replace(r, r"[?&]+$", "")                     # dangling sep
    r = F.regexp_replace(r, r"/$", "")                         # trailing /
    return F.concat(norm_prefix, r)
