"""Row-level scalar kit: the reference's cleansing/validation expressions.

Each function returns a Column built from pyspark.sql.functions only —
JVM-side, codegen-friendly, no Python in the row path (the reference does
all of this in per-row TypeScript; at 100 TB these run inside whole-stage
codegen instead).

Reference call sites re-expressed (SURVEY.md §2.A12-A17):
  * geo/string exclusion   — extractGooglePlaces.ts:295 (`address
    includes "United States"` drop), scrapeWebsite.ts:211 (`+1` phone skip)
  * regex phone extraction — extractGooglePlaces.ts:272-275
  * trim-or-null           — extractGooglePlaces.ts:192,261-269 (`.trim()
    || null`)
  * URL try-parse          — extractGooglePlaces.ts:166-172 (invalid → null)
  * in-row set dedup       — scrapeWebsite.ts:227 (`[...new Set(tags)]`)
  * tag-array construction — activities/syncCrm.ts:141
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

PHONE_RE = r"(\+?\d[\d\s()-]+)"


def extract_phone(col: Column | str) -> Column:
    """First phone-shaped substring, else NULL (extractGooglePlaces.ts:272)."""
    c = F.col(col) if isinstance(col, str) else col
    got = F.regexp_extract(c, PHONE_RE, 1)
    return F.nullif(got, F.lit(""))


def trim_or_null(col: Column | str) -> Column:
    """``.textContent?.trim() || null`` — empty after trim → NULL."""
    c = F.col(col) if isinstance(col, str) else col
    return F.nullif(F.trim(c), F.lit(""))


def is_us_address(col: Column | str) -> Column:
    """Geo exclusion; NULL address passes (reference's optional chain
    treats missing address as not-US, extractGooglePlaces.ts:295)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c.contains("United States"), F.lit(False))


def is_us_phone(col: Column | str) -> Column:
    """``telephoneNumber.includes("+1")`` skip (scrapeWebsite.ts:211)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c.contains("+1"), F.lit(False))


def try_parse_url(col: Column | str) -> Column:
    """Scheme+host validation: NULL for rows a URL parser would reject.

    ``parse_url`` returns NULL for non-URLs; require an http(s) scheme and
    a dot-bearing host like the reference's Schema.URL decode.
    """
    c = F.col(col) if isinstance(col, str) else col
    # try_parse_url: NULL instead of ANSI error on malformed input
    host = F.try_parse_url(c, F.lit("HOST"))
    ok = c.rlike(r"^https?://") & host.isNotNull() & host.contains(".")
    return F.when(ok, c)


def normalize_tags(*cols: Column) -> Column:
    """[industry, location, ...services] concat + set-dedup, null-safe
    (activities/syncCrm.ts:141)."""
    arr = F.array_compact(F.array(*cols))
    return F.array_distinct(arr)
